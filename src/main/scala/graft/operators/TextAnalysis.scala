package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting, shingling.
  * All pure built-in compositions (codegen'd, no UDFs) so they stream
  * through whole-stage codegen at 100 TB — each is a narrow map over the
  * documents scan with no shuffle until an explicit aggregation.
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed, lowercased text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+", -1)

  /** Token count (whitespace tokenizer; empty text → 0). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(tokens(text)).cast("long"))

  /** BPE-ish regex pre-tokenization (the GPT-2 style split, minus the
    * apostrophe-contraction alternatives): a token is an optional leading
    * space plus a letter run, digit run, or non-alnum symbol run. Counts
    * from this tokenizer approximate LLM token budgets far better than
    * whitespace splitting ("foo,bar!" = 4 BPE-ish tokens, 1 whitespace
    * token). Plain alternation/char-class regex — identical semantics in
    * Java regex and RE2, so it is oracle-portable.
    */
  val BpeTokenPattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeTokenPattern), lit(0))

  def bpeTokenCount(text: Column): Column =
    size(bpeTokens(text)).cast("long")

  /** Overlapping token-window chunking — the context-length splitter every
    * training/RAG pipeline needs: each document becomes ⌈(n_tok − overlap)
    * / stride⌉ windows of `chunkSize` tokens advancing by stride =
    * chunkSize − overlap. The start grid is `sequence(0, max(n_tok −
    * overlap − 1, 0), stride)`, which (a) covers every token (the last
    * start is ≥ n_tok − chunkSize), (b) never emits a tail window fully
    * contained in its predecessor, and (c) gives short docs exactly one
    * window. NULL and whitespace-only text produce NO rows (the
    * [[tokenCount]] = 0 contract, pinned in the q92 oracle).
    *
    * Scale shape: one narrow projection stages the token array ONCE (HOF
    * rule), the explode is linear in output chunks, and there is no
    * shuffle at all — chunking 100 TB is a pure map, partition-parallel
    * end to end. Emits (doc_id, chunk_idx, tok_start, chunk_tokens,
    * chunk_text).
    */
  def chunks(docs: DataFrame, id: Column, text: Column,
      chunkSize: Int, overlap: Int,
      maxChunksPerDoc: Int = 1 << 20): DataFrame = {
    require(chunkSize >= 1, s"chunks: chunkSize must be >= 1, got $chunkSize")
    require(overlap >= 0 && overlap < chunkSize,
      s"chunks: need 0 <= overlap < chunkSize, got $overlap")
    require(maxChunksPerDoc >= 1,
      s"chunks: maxChunksPerDoc must be >= 1, got $maxChunksPerDoc")
    val stride = (chunkSize - overlap).toLong
    // The per-doc fuse (mirrors annPairs' hot-bucket cap): one pathological
    // document — a concatenated crawl shard, a binary blob that tokenized
    // into millions of "words" — would otherwise fan out into n_tok/stride
    // rows inside a single task, and a 1000-executor job dies on one
    // straggler partition. Docs past the cap keep their FIRST
    // maxChunksPerDoc windows (prefix-stable, so raising the cap only
    // appends chunks); the default (~1M chunks ≈ 50M tokens/doc) is far
    // above any real document.
    val lastStart = (maxChunksPerDoc - 1).toLong * stride
    val tk = docs
      .select(id.as("doc_id"),
        when(length(trim(text)) === 0, lit(null).cast("array<string>"))
          .otherwise(tokens(text)).as("tk"))
      .filter(col("tk").isNotNull)
      .select(col("doc_id"), col("tk"), size(col("tk")).cast("long").as("n_tok"))
    tk.select(col("doc_id"), col("tk"), col("n_tok"),
        explode(sequence(lit(0L),
          least(
            greatest(col("n_tok") - lit(overlap.toLong) - lit(1L), lit(0L)),
            lit(lastStart)),
          lit(stride))).as("tok_start"))
      .select(col("doc_id"),
        (col("tok_start") / lit(stride)).cast("long").as("chunk_idx"),
        col("tok_start"),
        least(lit(chunkSize.toLong), col("n_tok") - col("tok_start"))
          .as("chunk_tokens"),
        array_join(slice(col("tk"), (col("tok_start") + 1).cast("int"),
          lit(chunkSize)), " ").as("chunk_text"))
  }

  /** EXACT n-gram benchmark decontamination — the published train/test
    * overlap standard (GPT-3 App. C / PaLM style: a training document is
    * contaminated when it shares any word n-gram with an eval benchmark;
    * the complement of q117's embedding-cosine SEMANTIC variant).
    *
    * 100 TB shape: the benchmark n-gram universe is eval-suite-sized, so
    * it collects into one codegen'd count-in-set probe and the corpus
    * side is a pure PROJECTION: zero exchanges, no explode, the whole
    * scan streams through whole-stage codegen. The tier decision rides
    * ONE tiny sizing aggregate (gram count + byte mass) over the
    * benchmark side BEFORE anything materializes on the driver — the
    * in-set tier is only taken when the whole universe provably fits
    * both `inSetLimit` (count) and `inSetBytes` (mass), so there is NO
    * driver ceiling at any benchmark size. Over either budget, the
    * scale tier explodes corpus grams through a bloom prefilter built
    * by `BloomFilterAggregate` in a scalar subquery on the probe filter
    * ([[Bloom.semiJoin]]) and verifies survivors with the exact
    * semi-join — the sketch is the only benchmark-sized thing in the
    * plan, and the corpus side still never shuffles before the
    * prefilter kills its non-matching grams.
    *
    * Contract (pinned, all tiers + oracle): `n_contaminated` counts
    * gram INSTANCES (positions), NULL text -> 0 (a null document cannot
    * be contaminated), <n-token documents -> 0.
    */
  def exactDecontamination(corpus: DataFrame, docId: Column, text: Column,
      benchmark: DataFrame, benchText: Column, n: Int = 8,
      inSetLimit: Int = 2000000, inSetBytes: Long = 128L << 20): DataFrame = {
    val benchGrams = benchmark
      .select(tokens(benchText).as("btk"))
      .select(explode(ngrams(col("btk"), n)).as("gram"))
      .distinct()
    val sz = benchGrams.agg(
      count(lit(1)).as("n"),
      coalesce(sum(octet_length(col("gram"))), lit(0L)).as("bytes")).head()
    val gramCount = sz.getLong(0)
    val gramBytes = sz.getLong(1)
    // tk staged (referenced >1x inside ngrams -> survives CollapseProject);
    // grams consumed ONCE by a codegen'd expression, so inlining is safe
    val staged = corpus.select(docId.as("doc_id"), tokens(text).as("tk"))
      .select(col("doc_id"), ngrams(col("tk"), n).as("grams"))
    val counted =
      if (gramCount == 0L)
        staged.select(col("doc_id"), lit(0L).as("n_contaminated"))
      else if (gramCount <= inSetLimit && gramBytes <= inSetBytes) {
        val collected = benchGrams.collect().map(_.getString(0))
        staged.select(col("doc_id"),
          coalesce(stopwordHits(col("grams"), collected.toSeq), lit(0L))
            .as("n_contaminated"))
      } else {
        val hits = Bloom.semiJoin(
            staged.select(col("doc_id"), explode(col("grams")).as("gram")),
            benchGrams.withColumnRenamed("gram", "bgram"),
            "gram", "bgram", estKeys = gramCount)
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        staged.select(col("doc_id"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_hits"), lit(0L)).as("n_contaminated"))
      }
    counted.withColumn("contaminated", col("n_contaminated") > 0)
  }

  /** Space-joined word n-grams over a token array. Guards the <n-token
    * case: `sequence(0, size - n)` DESCENDS when size < n (yielding null
    * entries) instead of being empty — the bug class q81's oracle
    * divergence came from. Pass `tokens` as a MATERIALIZED attribute, not
    * an inlined expression: HOF lambdas re-evaluate inlined subtrees per
    * element (see q81_repetition).
    */
  def ngrams(tokens: Column, n: Int): Column = {
    require(n >= 1, s"ngrams: n must be >= 1, got $n")
    // fused codegen'd loop (r13): the declarative transform(sequence(...))
    // chain evaluates INTERPRETED per gram — see [[ngramsComposed]], kept
    // as the property oracle (`NgramsSpec` pins row identity, including
    // the NULL-array / <n-token / NULL-token contracts documented there)
    org.apache.spark.sql.graftbridge.ExprBridge.column(
      graft.functions.NgramsExpr(
        org.apache.spark.sql.graftbridge.ExprBridge.expr(tokens), n))
  }

  /** The composed-builtin spelling of [[ngrams]] — the property-test
    * oracle for the fused expression (never used in a hot path).
    *
    * null-preserving: NULL tokens (no text) -> NULL n-grams, distinct
    * from <n tokens -> EMPTY n-grams (matching SQL null propagation —
    * the oracle's generate_series(1, NULL) chain yields NULL, not []).
    * Grams join with concat (null-propagating: a null TOKEN nulls its
    * gram, as `tk[i] || ' ' || tk[i+1]` does) — concat_ws would silently
    * drop null elements instead.
    */
  private[graft] def ngramsComposed(tokens: Column, n: Int): Column = {
    require(n >= 1, s"ngrams: n must be >= 1, got $n")
    when(tokens.isNull, lit(null).cast("array<string>"))
      .when(size(tokens) >= n,
        transform(sequence(lit(0), size(tokens) - n),
          i => concat((0 until n).flatMap(j =>
            (if (j > 0) Seq(lit(" ")) else Nil) :+ get(tokens, i + lit(j))): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Stopword hits against a fixed lexicon — a codegen'd
    * [[graft.functions.CountInSetExpr]] loop (one HashSet probe per
    * element, no interpreted lambda, no intermediate filtered array).
    * `toks` should still be a materialized token-array attribute (stage
    * [[tokens]] in a projection first) so the tokenizer runs once per row
    * however many scores reference it.
    */
  def stopwordHits(toks: Column, stopwords: Seq[String]): Column =
    org.apache.spark.sql.graftbridge.ExprBridge.column(
      graft.functions.CountInSetExpr(
        org.apache.spark.sql.graftbridge.ExprBridge.expr(toks), stopwords))

  /** Token count off a staged token array (empty text → 0, not 1: the
    * regex split of "" yields [""]).
    */
  def tokenCountFrom(text: Column, toks: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(toks).cast("long"))

  /** Concat-and-chunk SEQUENCE PACKING — the batch-prep step between a
    * curated corpus and a trainer: documents are concatenated in a
    * deterministic order and cut every `seqLen` tokens; each document's
    * assignment is (shard, seq_no, offset_in_seq), and a document whose
    * `offset + n_tokens` crosses `seqLen` spans a sequence boundary
    * exactly as the standard concat-then-chunk loader does (the consumer
    * splits it; no padding is modeled).
    *
    * Determinism: documents are sharded by the portable 60-bit hash of
    * their id and ordered within a shard by md5 priority then id — no
    * RNG, no partitioning dependence; any engine reproduces every
    * assignment bit-for-bit (the q135 oracle replays it in SQL).
    * Zero/NULL-token documents are excluded (they contribute nothing to
    * a sequence).
    *
    * Scale shape: ONE exchange on the shard key, then a per-shard sort +
    * running sum — exactly the sharded-packing layout production loaders
    * use; `shards` is the parallelism knob (each shard's window is a
    * single task over corpus/shards docs). The running sum is plain long
    * arithmetic: ANSI throws past 2^63 tokens per shard rather than
    * mis-assigning.
    */
  def packSequences(docs: DataFrame, id: Column, text: Column,
      seqLen: Int, shards: Int = 32): DataFrame = {
    require(seqLen >= 1, s"packSequences: seqLen must be >= 1, got $seqLen")
    require(shards >= 1, s"packSequences: shards must be >= 1, got $shards")
    import org.apache.spark.sql.expressions.Window
    val base = docs
      .withColumn("__tk", tokens(text))
      .select(id.as("doc_id"),
        tokenCountFrom(text, col("__tk")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        pmod(graft.operators.Dedup.portableHash64(
          col("doc_id").cast("string")), lit(shards.toLong)).cast("int")
          .as("shard"),
        md5(col("doc_id").cast("string").cast("binary")).as("__pri"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__pri").asc_nulls_last, col("doc_id").asc_nulls_last)
    base
      .withColumn("__start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("shard"),
        // DIV: exact integer division (a double quotient would round past
        // 2^53 tokens; starts are non-negative so DIV == floor)
        expr(s"__start DIV $seqLen").as("seq_no"),
        pmod(col("__start"), lit(seqLen.toLong)).as("offset_in_seq"),
        col("n_tokens"))
  }

  /** Quality-score features: length, token stats, stopword ratio.
    * Mirrors the heuristic quality scoring a pretraining pipeline applies
    * per document before filtering. `toks` = staged [[tokens]] attribute
    * (see [[stopwordHits]]).
    */
  def qualityFeatures(text: Column, toks: Column): Seq[(String, Column)] = {
    val nTok = size(toks).cast("long")
    Seq(
      "n_chars_m" -> length(text).cast("long"),
      "n_tokens" -> nTok,
      "n_distinct_tokens" -> size(array_distinct(toks)).cast("long"),
      "avg_token_len" ->
        (length(regexp_replace(trim(text), "\\s+", "")).cast("double") /
          nTok.cast("double")),
      "stopword_hits" -> stopwordHits(toks,
        Seq("the", "a", "of", "and", "is")))
  }

  /** Language-ID heuristic: stopword-lexicon hit counts per language,
    * deterministic argmax (ties broken by the fixed language order).
    */
  val langLexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "is", "of", "a"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "les", "et", "une", "est"),
    "de" -> Seq("der", "die", "und", "das", "ist"))

  /** Per-language stopword scores off a staged token array (see
    * [[stopwordHits]] for why the array must be an attribute).
    */
  def langScores(toks: Column): Seq[(String, Column)] =
    langLexicons.map { case (lang, lex) =>
      s"score_$lang" -> stopwordHits(toks, lex)
    }

  /** Deterministic argmax over score columns. Pass STAGED score
    * attributes, not the score expressions: each score appears here up to
    * three times (in the greatest, its own when, and the output), and an
    * interpreted filter HOF would re-run per mention.
    */
  def langPredict(scores: Seq[(String, Column)]): Column = {
    // strict argmax in declaration order: first language with score equal to
    // the overall max wins — same CASE chain the oracle runs.
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldLeft(when(maxScore === 0, lit("und"))) {
      case (acc, (name, score)) =>
        acc.when(score === maxScore, lit(name.stripPrefix("score_")))
    }.otherwise(lit("und"))
  }

  /** Character shingles: fixed-length windows at a fixed stride — the
    * selective n-gram unit for Jaccard near-dup detection. Returns an array
    * column; explode + distinct to get the (doc, shingle) relation.
    *
    * Runs through the codegen'd [[graft.functions.CharShinglesExpr]] — the
    * declarative `transform(sequence(...), substr)` form evaluates
    * interpreted per element and dominated the whole shingle family's cost
    * at scale (~90% of q35's sf1 wall time). Same output, including the
    * NULL-text → `[NULL]` and empty-text → `[""]` contracts.
    */
  def charShingles(text: Column, len: Int = 16, stride: Int = 4): Column =
    org.apache.spark.sql.graftbridge.ExprBridge.column(
      graft.functions.CharShinglesExpr(
        org.apache.spark.sql.graftbridge.ExprBridge.expr(text), len, stride))

  /** Min-shingle-hash document fingerprint (winnowing-style): the minimum
    * md5 over the document's shingles — stable under reordering of
    * evaluation, cheap to compare across corpora.
    */
  def fingerprint(shingle: Column): Column = min(md5(shingle))

  /** Exact-dup normalization: token-multiset-insensitive canonical form
    * (sorted tokens re-joined) hashed with md5. Catches shuffled-word
    * duplicates that byte-equality misses.
    */
  def normalizedHash(text: Column): Column =
    normalizedHashFrom(tokens(text))

  /** Vocabulary coverage report: the top-`v` tokens by corpus frequency
    * with each prefix's cumulative share of ALL token occurrences — the
    * tokenizer-planning readout ("how much of the corpus do the first V
    * vocab entries cover"). Deterministic order: count DESC, token ASC.
    *
    * Scale shape: ONE shuffle (the token-frequency aggregate, map-side
    * partials); the top-v cut is TakeOrdered (bounded heap, no global
    * sort); the cumulative window runs over v rows. `cum_frac` is a plain
    * double quotient of two longs — IEEE division is correctly rounded on
    * every engine, so the unrounded value is bit-identical and needs no
    * round() (whose decimal-boundary behavior splits engines).
    */
  def vocabCoverage(docs: DataFrame, text: Column, v: Int): DataFrame = {
    require(v >= 1, s"vocabCoverage: v must be >= 1, got $v")
    val toks = docs
      .select(explode(tokens(text)).as("tok"))
      .filter(col("tok") =!= "")
    // cached: the total and the top-v cut both consume the vocab-sized
    // frequency frame — without the cache the corpus token aggregate
    // runs twice (once under the broadcast total subtree)
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt")).cache()
    val total = freq.agg(coalesce(sum(col("cnt")), lit(0L)).as("tot"))
    val ord = Seq(col("cnt").desc, col("tok").asc)
    import org.apache.spark.sql.expressions.Window
    freq.orderBy(ord: _*).limit(v)
      .withColumn("rk", row_number().over(Window.orderBy(ord: _*))
        .cast("long"))
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rk"), col("tok"), col("cnt"),
        (col("cum").cast("double") / col("tot").cast("double"))
          .as("cum_frac"))
  }

  /** Boilerplate-line stats — the CCNet/RefinedWeb line-level cleanup
    * signal: a (trimmed, non-empty) line occurring in at least
    * `boilerPct`% of its source's documents (and in at least `minDf` of
    * them) is boilerplate (nav bars, cookie banners, footers), and every
    * occurrence of it is dropped. Emits per-document totals: non-empty
    * line occurrences, boilerplate occurrences among them, and characters
    * kept after stripping — the inputs a cleanup pass needs to rewrite or
    * score documents.
    *
    * Scale shape: lines are a pure explode off the scan; every shuffle
    * key is the 60-bit portable line hash (never the line text). The
    * boilerplate SET is broadcast — safe by construction, not by hope:
    * each boilerplate line appears in ≥ `boilerPct`% of its source's
    * docs, so a source with L line-occurrences per doc has at most
    * L · 100/boilerPct boilerplate lines regardless of corpus size (the
    * set scales with sources × lines-per-doc, not with documents). The
    * per-source doc counts are likewise source-cardinality-sized. The
    * threshold test is pure integer math (`df·100 ≥ boilerPct·n_docs`) so
    * both engines decide identically on every boundary.
    *
    * Contracts (pinned in the q116 oracle): lines split on '\n' only;
    * trim strips ASCII spaces (CR survives, consistently on both
    * engines); empty trimmed lines are not lines; NULL / line-less text
    * yields no output row for the document; a line repeated within one
    * document counts once toward its df but every occurrence toward the
    * document's totals.
    */
  def boilerplateLineStats(docs: DataFrame, id: Column, source: Column,
      text: Column, boilerPct: Int = 30, minDf: Int = 2): DataFrame = {
    require(boilerPct >= 1 && boilerPct <= 100,
      s"boilerplateLineStats: need 1 <= boilerPct <= 100, got $boilerPct")
    require(minDf >= 1,
      s"boilerplateLineStats: minDf must be >= 1, got $minDf")
    val lines = docs
      .select(id.as("doc_id"), source.as("source"),
        explode(split(text, "\n", -1)).as("__raw"))
      .select(col("doc_id"), col("source"), trim(col("__raw")).as("__line"))
      .filter(col("__line") =!= "")
      .select(col("doc_id"), col("source"),
        Dedup.portableHash64(col("__line")).as("lh"),
        length(col("__line")).cast("long").as("len"))
    // one row per (source, doc, line): the df unit. Repeats inside a doc
    // collapse here (counted in n_occ) so the df aggregation below is a
    // plain count, and map-side partials bound every hot line.
    val occ = lines.groupBy("source", "doc_id", "lh")
      .agg(count(lit(1)).as("n_occ"), max("len").as("len"))
    val docsPerSource = occ.groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    val lineDf = occ.groupBy("source", "lh").agg(count(lit(1)).as("df"))
    val boiler = lineDf.join(broadcast(docsPerSource), "source")
      .filter(col("df") * lit(100L) >= lit(boilerPct.toLong) * col("n_docs")
        && col("df") >= minDf)
      .select(col("source"), col("lh"), lit(true).as("__boiler"))
    occ.join(broadcast(boiler), Seq("source", "lh"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("n_occ")).as("n_lines"),
        sum(when(col("__boiler"), col("n_occ")).otherwise(lit(0L)))
          .as("n_boiler"),
        sum(when(col("__boiler").isNull, col("n_occ") * col("len"))
          .otherwise(lit(0L))).as("kept_chars"))
  }

  /** [[normalizedHash]] off a staged token array — for projections that
    * already materialized [[tokens]] for other features.
    */
  def normalizedHashFrom(toks: Column): Column =
    md5(array_join(array_sort(toks), " "))

  /** Top PMI collocations (pointwise mutual information over adjacent
    * token pairs): the corpus-level "which bigrams are real phrases"
    * readout a tokenizer/vocab-planning pass runs. Ranked by raw pair
    * count (integer-exact across engines — PMI itself is a log whose
    * last-ulp can differ per libm, so it is emitted 4dp-rounded as an
    * OUTPUT-ONLY value, never ranked on); ties broken by (w1, w2).
    *
    * Scale shape: bigram pairs and unigram counts are map-side explodes
    * off one staged token array; ONE shuffle each for the two count
    * aggregates (map-side partials); the single-row totals frame is
    * broadcast; the unigram re-joins shuffle only the `minCount`-pruned
    * pair-count relation (vocab-bounded, not corpus-bounded); the top-k
    * cut is TakeOrdered (bounded heap, no global sort).
    */
  def pmiBigrams(docs: DataFrame, text: Column, minCount: Long = 3,
      topK: Int = 50): DataFrame = {
    val tk = docs.select(tokens(text).as("__tk"))
    // NULL text -> NULL token array -> no rows (explode skips), matching
    // the oracle's len(NULL) >= 2 filter; < 2 tokens -> no bigrams
    val pairs = tk.select(explode(
        when(size(col("__tk")) >= 2,
          transform(sequence(lit(0), size(col("__tk")) - 2),
            i => struct(get(col("__tk"), i).as("w1"),
              get(col("__tk"), i + 1).as("w2"))))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val uni = tk.select(explode(col("__tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val pc = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val tot = pairs.agg(count(lit(1)).cast("double").as("nbg"))
      .crossJoin(broadcast(uni.agg(sum(col("c")).cast("double").as("ntok"))))
    // pmi = ln(P(xy) / (P(x)P(y))) arranged as one double product chain
    // — operand order mirrored exactly in the oracle SQL so the quotient
    // is bit-identical; only the final ln/round is output-only
    pc.join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log(col("n_pair").cast("double") * col("ntok") * col("ntok") /
          (col("nbg") * col("c1").cast("double") *
            col("c2").cast("double"))), 4).as("pmi"))
      .orderBy(col("n_pair").desc, col("w1"), col("w2"))
      .limit(topK)
  }
}
