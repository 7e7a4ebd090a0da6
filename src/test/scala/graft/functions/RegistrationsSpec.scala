package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The one native-function registry: every fixed name reaches plain SQL on a session
  * built with [[GraftExtensions]], every builder rejects a wrong argument count naming
  * the function, and `SparkEntry.queries` registers the list lazily on a session that
  * lacks it. */
class RegistrationsSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  /** One well-typed argument list per fixed name. */
  private val args: Map[String, String] = Map(
    "parse_redo" -> "'insert into \"S\".\"T\"(\"A\") values (''x'')'",
    "parse_redo_noescape" -> "'insert into \"S\".\"T\"(\"A\") values (''x'')'",
    "vec_dot" -> "array(1D, 2D), array(3D, 4D)",
    "envelope_fold" -> "1L, 1L, 1L, 'INSERT', map('A', 'x')",
    "text_scan" -> "'the cat sat'",
    "text_bpe_count" -> "'the cat sat'",
    "text_langid_scan" -> "'the cat sat'",
    "text_tri_rep" -> "'the cat sat'",
    "winnow_select" -> "'the cat sat on the mat'")

  private def fresh(): SparkSession = graft.SparkTestSession.spark.newSession()

  test("every fixed name resolves from plain SQL on a new session of a LocalSession") {
    assert(Registrations.all.map(_._1.funcName).sorted == args.keys.toSeq.sorted)
    val s = fresh()
    args.foreach { case (name, a) =>
      assert(s.sql(s"SELECT $name($a)").collect().length == 1, name)
    }
  }

  test("every fixed name rejects a wrong argument count with WRONG_NUM_ARGS naming it") {
    val s = fresh()
    args.foreach { case (name, a) =>
      Seq(s"SELECT $name()", s"SELECT $name($a, $a)").foreach { q =>
        val e = intercept[AnalysisException](s.sql(q).collect())
        assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), s"$q: ${e.getMessage}")
        assert(e.getMessage.contains(name), s"$q: ${e.getMessage}")
      }
    }
  }

  test("SparkEntry.queries registers the functions on a session that has none of them") {
    val s = fresh()
    val registry = Registrations.registry(s)
    Seq("cdc_apply_merge", "simsearch_topk", "text_quality", "text_langid",
        "dedup_winnow_pairs").foreach { q =>
      Registrations.all.foreach { case (ident, _, _) => registry.dropFunction(ident) }
      assert(Registrations.all.forall { case (ident, _, _) => !registry.functionExists(ident) })
      graft.SparkEntry.queries(q)(s, dir).queryExecution.assertAnalyzed()
    }
  }
}
