package graft

import org.scalatest.funsuite.AnyFunSuite

/** llm_quality rounding ties. The score is an exact rational, and both
  * engines must round it half-up to 4 places the same way. The cases
  * are 16 tokens with one stopword: n_chars = 39 gives exactly 0.20475
  * and n_chars = 24 exactly 0.19475, whose double sum falls just below
  * the tie (0.19474999999999998). */
class QualityScoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val text = ("the" +: (1 to 15).map(i => s"w$i")).mkString(" ")
  private val ties = Seq(39L -> 0.2048, 24L -> 0.1948)

  test("llm_quality: Spark rounds exact half-way scores up") {
    import spark.implicits._
    val docs = ties.zipWithIndex.map { case ((c, _), i) => (i.toLong, text, c) }
      .toDF("doc_id", "text", "n_chars")
    val got = llm.TextStats.scoredDocsOver(docs).orderBy("doc_id")
      .as[(Long, Double)].collect().map(_._2)
    assert(got.toSeq === ties.map(_._2))
  }

  test("llm_quality: the DuckDB oracle expression gives the same tie scores") {
    val rows = ties.zipWithIndex.map { case ((c, _), i) => s"($i, '$text', $c)" }
      .mkString(", ")
    val sql = s"SELECT ${llm.TextStats.scoreSql} AS score " +
      s"FROM (VALUES $rows) v(i, text, n_chars) ORDER BY i"
    val py = "import duckdb, sys\n" +
      "for r in duckdb.sql(sys.argv[1]).fetchall(): print(repr(r[0]))"
    val out = new StringBuilder
    val code = scala.sys.process.Process(Seq("python3", "-c", py, sql))
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(code === 0, s"python3 with duckdb must run the oracle SQL:\n$out")
    assert(out.toString.trim.split('\n').map(_.toDouble).toSeq === ties.map(_._2))
  }
}
