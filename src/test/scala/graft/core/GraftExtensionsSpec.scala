package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  /** Build fresh sessions (sharing any existing SparkContext) without
    * disturbing the suite-shared default/active sessions; never stop()
    * them — the context is suite-shared.
    */
  private def withFreshSessions[T](body: => T): T = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    try body
    finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  /** A new session on the shared context: clear the default first, or
    * getOrCreate would hand back the previous one.
    */
  private def fresh(b: SparkSession.Builder): SparkSession = {
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    b.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
  }
  private def extensionsSession(): SparkSession =
    fresh(SparkSession.builder().withExtensions(new GraftExtensions))
  private def initSession(): SparkSession =
    Graft.init(fresh(SparkSession.builder()))

  /** Names a session resolves beyond Spark's built-in registry. */
  private def added(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet --
      FunctionRegistry.builtin.listFunction().map(_.funcName)

  test("extensions class registers the FHIRPath SQL surface at build time") {
    withFreshSessions {
      val got = extensionsSession().sql(
        """SELECT get_fhirpath_one('{"a":[{"b":"x"}]}', 'a[0].b') AS v""")
        .collect().head.getString(0)
      assert(got == "x")
    }
  }

  test("extensions and Graft.init resolve the same SQL names") {
    withFreshSessions {
      val ext = extensionsSession()
      val init = initSession()
      assert(!(ext eq init))
      val expected = Set("piece", "ifnull3", "isnull2", "contains_code",
        "datediff_years", "getjson", "getprop", "get_fhirpath",
        "get_fhirpath_one", "dot_product")
      assert(added(ext) == expected)
      assert(added(init) == expected)
      val sql = """SELECT piece('a|b|c', '|', 2) AS p,
        |  ifnull3(NULL, 'n', 'v') AS i3, isnull2(NULL, 'd') AS i2,
        |  contains_code('x|44054006', '44054006') AS cc,
        |  datediff_years(DATE'2001-12-31', DATE'2003-01-01') AS dy,
        |  getjson('{"k":{"a":1}}', 'k') AS gj, getprop('{"k":2}', 'k') AS gp,
        |  get_fhirpath('{"a":[{"b":"x"}]}', 'a.b') AS fp,
        |  dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp""".stripMargin
      val row = ext.sql(sql).collect().head
      assert(row == init.sql(sql).collect().head)
      assert(row.getString(0) == "b" && row.getDouble(8) == 11.0)
    }
  }
}
