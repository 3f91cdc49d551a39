package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The persisted-layout registration protocol (Layouts): re-register on a
  * matching dataset fingerprint, REBUILD on a mismatch — the round-5
  * staleness finding was that layouts keyed only by dir name trusted
  * whatever bytes sat at the path. `_GRAFT_META` is the commit marker:
  * written only after a build returns. */
class LayoutsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete(): Unit
  }

  test("catalog table layout: match re-registers, fingerprint change rebuilds") {
    val tbl = "graft_spec_layout_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    rm(new java.io.File("/tmp/graft_spec_layout"))
    var builds = 0
    def reg(meta: String) =
      llm.Layouts.table(spark, "spec_layout", "spec", meta, 2, Seq("v")) {
        builds += 1
        Seq(1L, 2L, 3L).toDF("v").repartition(2, $"v")
      }

    assert(reg("count=3:max=3").count() == 3 && builds == 1)
    val built = spark.table(tbl).schema
    // catalog-warm: no re-check, no rebuild
    assert(reg("count=3:max=3").count() == 3 && builds == 1)
    // catalog-cold + matching meta: re-register without rebuilding, from
    // the schema recorded at build time, with the bucket spec intact
    spark.sql(s"DROP TABLE $tbl")
    val back = reg("count=3:max=3")
    assert(back.count() == 3 && builds == 1)
    assert(back.schema == built)
    val plan = back.groupBy($"v").count().queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed re-registration lost its buckets:\n$plan")
    // catalog-cold + CHANGED fingerprint: stale layout must rebuild
    spark.sql(s"DROP TABLE $tbl")
    assert(reg("count=4:max=9").count() == 3 && builds == 2)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    rm(new java.io.File("/tmp/graft_spec_layout"))
  }

  test("parquet layout: match re-reads, fingerprint change rebuilds") {
    val path = llm.Layouts.pathOf("spec_pq_layout", "spec")
    rm(new java.io.File(path))
    var builds = 0
    def reg(meta: String): Unit = {
      llm.Layouts.resetMemo() // simulate a fresh session per call
      llm.Layouts.parquet(spark, path, meta) {
        builds += 1
        Seq(1L, 2L).toDF("v")
      }
    }
    reg("A"); assert(builds == 1)
    reg("A"); assert(builds == 1) // committed + matching meta → no rebuild
    reg("B"); assert(builds == 2) // fingerprint changed → rebuild

    // A build that writes only below the root commits like any other: the
    // meta, not where the writer leaves its _SUCCESS, marks it complete.
    def sub(meta: String): Unit = {
      llm.Layouts.resetMemo()
      llm.Layouts.persisted(path, meta) {
        builds += 1
        Seq(1L).toDF("v").write.mode("overwrite").parquet(s"$path/batch=1")
      }
    }
    rm(new java.io.File(path))
    sub("C"); assert(builds == 3)
    sub("C"); assert(builds == 3)

    // A build that throws leaves no meta, so the next call rebuilds.
    llm.Layouts.resetMemo()
    intercept[IllegalStateException] {
      llm.Layouts.persisted(path, "D") { builds += 1; throw new IllegalStateException("killed") }
    }
    assert(builds == 4)
    assert(!new java.io.File(path, "_GRAFT_META").exists())
    sub("D"); assert(builds == 5)
    sub("D"); assert(builds == 5)
    llm.Layouts.resetMemo()
    rm(new java.io.File("/tmp/graft_spec_pq_layout"))
  }

  test("fingerprint folds content: same count/max-id, changed text still invalidates") {
    val a = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val b = Seq((1L, "alpha"), (2L, "GAMMA")).toDF("doc_id", "text")
    val fa = llm.Layouts.fingerprint(a, "doc_id", "text")
    val fb = llm.Layouts.fingerprint(b, "doc_id", "text")
    // identical count and max id — the pre-round-7 fingerprint (count:max)
    // could not tell these apart; the content xor must
    assert(fa != fb)
    // row order must NOT move the fingerprint (xor is commutative)
    val aShuffled = Seq((2L, "beta"), (1L, "alpha")).toDF("doc_id", "text")
    assert(llm.Layouts.fingerprint(aShuffled, "doc_id", "text") == fa)
    // array content columns hash too (the embeddings call sites)
    val e1 = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val e2 = Seq((1L, Array(1.0f, 3.0f))).toDF("vec_id", "embedding")
    assert(llm.Layouts.fingerprint(e1, "vec_id", "embedding") !=
           llm.Layouts.fingerprint(e2, "vec_id", "embedding"))
  }

  test("Layouts is the only owner of persisted paths, table DDL and the dir sanitizer") {
    val banned = Seq("/tmp/graft", "replaceAll(\"[^a-zA-Z0-9]\"", "saveAsTable", "CREATE TABLE")
    val owner = new java.io.File("src/main/scala/graft/llm/Layouts.scala").getCanonicalFile
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val files = scalaFiles(new java.io.File("src/main/scala"))
    assert(files.exists(_.getCanonicalFile == owner), "scan root must contain Layouts.scala")
    val hits = for {
      f <- files if f.getCanonicalFile != owner
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${f.getPath}:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
