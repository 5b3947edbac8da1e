package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ExprBridge

/** Compatibility scalar surface mirroring the reference's IRIS SQL dialect
  * functions and ad-hoc Python helpers, re-expressed as *pure built-in
  * compositions* so Catalyst optimizes straight through them (codegen,
  * constant folding, pushdown) — no UDF boundary in the hot path.
  *
  * Reference surface (see SURVEY.md §2.7):
  *  - `$piece(s, delim, n)`       → [[piece]]         (OlderExamples/SQLConnections.ipynb:200)
  *  - `IFNULL(c, a, b)` (3-arg)   → [[ifnull3]]       (notebooks/DiabetesSQL.ipynb:101-108)
  *  - `IsNull(c, d)` (2-arg)      → [[isnull2]]       (dags/ODSImport.py:122)
  *  - IRIS `[` contains operator  → [[containsCode]]  (notebooks/DiabetesSQL.ipynb:110-113)
  *  - `DATEDIFF('year', a, b)`    → [[datediffYears]] (notebooks/DiabetesSQL.ipynb:93-108)
  *  - `GetJSON(json, key)`        → [[getJson]]       (OlderExamples/SQLConnections.ipynb:164)
  *  - `GetProp(json, key)`        → [[getProp]]       (OlderExamples/SQLConnections.ipynb:165)
  *  - `given()` name splitting    → [[firstToken]]/[[restTokens]] (dags/ODSImport.py:328-337)
  *  - `YYYYMMDD` date rebuild     → [[yyyymmddToIso]] (dags/ODSImport.py:573-580)
  *  - UTC stamp                   → [[utcStamp]]      (dags/ConsultationNoteWritebackX.py:55-57)
  */
object compat {

  /** `$piece(s, delim, n)`: 1-based n-th delimited piece; empty string when the
    * piece is missing (IRIS semantics). Delimiter is a plain string, not a regex.
    */
  def piece(s: Column, delim: String, n: Int): Column =
    coalesce(get(split(s, Pattern.quote(delim), -1), lit(n - 1)), lit(""))

  /** IRIS 3-arg `IFNULL(c, whenNull, whenNotNull)`. */
  def ifnull3(c: Column, whenNull: Column, whenNotNull: Column): Column =
    when(c.isNull, whenNull).otherwise(whenNotNull)

  /** IRIS 2-arg `IsNull(c, d)` = coalesce. */
  def isnull2(c: Column, d: Column): Column = coalesce(c, d)

  /** IRIS `[` ("contains") over delimited code-list columns: substring
    * containment, the way every reference query uses it
    * (`code [ '44054006'`, `identifier [ 'system|value'`).
    */
  def containsCode(c: Column, code: String): Column = c.contains(code)

  /** IRIS `DATEDIFF('year', from, to)`: calendar-year subtraction
    * (boundary count), NOT elapsed-year floor.
    */
  def datediffYears(from: Column, to: Column): Column =
    (year(to) - year(from)).cast("int")

  /** `GetJSON(json, key)` — raw JSON subtree at a top-level element. */
  def getJson(json: Column, key: String): Column =
    get_json_object(json, "$." + key)

  /** `GetProp(jsonObject, prop)` — scalar property of a JSON object. */
  def getProp(json: Column, prop: String): Column =
    get_json_object(json, "$." + prop)

  /** Surname part of "SURNAME I N" style names: first whitespace token. */
  /** Null-preserving (SQL norm): a NULL name yields a NULL token, not ""
    * — the reference's given() only ever ran on present names.
    */
  def firstToken(c: Column): Column =
    get(split(trim(c), "\\s+", -1), lit(0))

  /** Initials part: all tokens after the first, re-joined with spaces.
    * (Slice length is a sane bound, not Int.MaxValue — start+length must not
    * overflow under ANSI arithmetic.)
    */
  def restTokens(c: Column): Column =
    array_join(slice(split(trim(c), "\\s+", -1), 2, 1 << 20), " ")

  /** `YYYYMMDD` compact date string → ISO `yyyy-MM-dd`; null (not an ANSI
    * parse error) on empty/invalid input — the reference guards each call
    * site with an emptiness check instead.
    */
  def yyyymmddToIso(c: Column): Column =
    date_format(try_to_date(c, "yyyyMMdd"), "yyyy-MM-dd")

  /** UTC timestamp rendered like the reference's
    * `strftime("%Y-%m-%dT%H:%M:%S+00:00")` (session TZ is UTC).
    */
  def utcStamp(): Column =
    date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ssxxx")

  /** `replace(v, null).fillna(f)` idiom (DiabetesSQL.ipynb:412-413):
    * sentinel → null → fill.
    */
  def replaceThenFill(c: Column, sentinel: Int, fill: Int): Column =
    when(c === lit(sentinel), lit(fill)).otherwise(coalesce(c, lit(fill)))

  /** Binary indicator (`np.where(c == v, 1, 0)`, DiabetesSQL.ipynb:1965). */
  def indicator(c: Column, v: String): Column =
    when(c === lit(v), lit(1)).otherwise(lit(0)).cast("int")

  /** Minimal JSON string-body escape for splicing a raw column into a
    * hand-assembled JSON document (q47's synthetic Patient): backslash
    * FIRST, then quote, then the \n \t \r control escapes — the exact
    * subset both Jackson and DuckDB's to_json emit as two-char escapes.
    * Other C0 controls (u0000-u001f) are NOT handled (the engines'
    * \uXXXX forms differ in case conventions) — don't ship them; real
    * pipelines build documents via to_json(struct(...)) which owns the
    * full contract. The DuckDB replay is [[jsonEscapeSql]].
    */
  def jsonEscape(c: Column): Column = {
    val esc = regexp_replace(
      regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\"")
    translateCtl(esc)
  }
  private def translateCtl(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, "\n", "\\\\n"), "\t", "\\\\t"), "\r", "\\\\r")

  /** DuckDB spelling of [[jsonEscape]] over a column expression string. */
  def jsonEscapeSql(expr: String): String =
    s"replace(replace(replace(replace(replace($expr," +
      """ '\', '\\'), '"', '\"'), chr(10), '\n'), chr(9), '\t'),""" +
      """ chr(13), '\r')"""

  // -------------------------------------------------------------------------
  // SQL-name registration: makes reference queries portable verbatim through
  // spark.sql(...). The builders construct the same built-in expression trees
  // as the Column API above, so SQL callers get identical (codegen'd) plans.
  // -------------------------------------------------------------------------

  /** Every SQL name the engine adds, with its builder. Both registration
    * routes iterate this one table: [[registerAll]] (`Graft.init`) and
    * `graft.core.GraftExtensions` (`spark.sql.extensions`).
    */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.IntegerType

    def lit2str(e: Expression): String = e match {
      case Literal(v, _) if v != null => v.toString
      case other =>
        throw new IllegalArgumentException(
          s"expected a string literal argument, got: $other")
    }
    // catalyst trees mirroring the Column API compositions above — the SQL
    // names resolve to the same codegen'd built-ins, no UDF boundary.
    def pieceExpr(str: Expression, delim: String, n: Int): Expression =
      Coalesce(Seq(
        ElementAt(
          StringSplit(str, Literal(Pattern.quote(delim)), Literal(-1)),
          Literal(n), None, false),
        Literal("")))
    def jsonField(args: Seq[Expression]): Expression =
      GetJsonObject(args(0), Literal("$." + lit2str(args(1))))

    Seq(
      "piece" -> (args =>
        pieceExpr(args(0), lit2str(args(1)), lit2str(args(2)).toInt)),
      "ifnull3" -> (args => CaseWhen(Seq((IsNull(args(0)), args(1))),
        Some(args(2)))),
      "isnull2" -> (args => Coalesce(Seq(args(0), args(1)))),
      "contains_code" -> (args => Contains(args(0), args(1))),
      "datediff_years" -> (args =>
        Cast(Subtract(Year(args(1)), Year(args(0))), IntegerType)),
      "getjson" -> jsonField,
      "getprop" -> jsonField,
      "get_fhirpath" -> (args => FhirPathExpr(args(0), args(1), one = false)),
      "get_fhirpath_one" -> (args =>
        FhirPathExpr(args(0), args(1), one = true)),
      "dot_product" -> (args => DotProduct(args(0), args(1))))
  }

  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, build) =>
      reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }

  /** `GetFHIRPath(json, path)`: all matches as a JSON array string. */
  def getFhirPath(json: Column, path: String): Column =
    ExprBridge.column(FhirPathExpr(
      ExprBridge.expr(json), ExprBridge.expr(lit(path)), one = false))

  /** `GetFHIRPathOne(json, path)`: first match as a scalar string. */
  def getFhirPathOne(json: Column, path: String): Column =
    ExprBridge.column(FhirPathExpr(
      ExprBridge.expr(json), ExprBridge.expr(lit(path)), one = true))
}
