package graft.operators

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("piiRedact counts and masks emails, phones, IPs") {
    val docs = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "call +1-555-0199 or +49-555-0100"),
      (3L, "host 192.168.0.1 and 10.0.0.255"),
      (4L, "clean text, nothing to see"),
      (5L, "a@b.io at 1.2.3.4 dial +1-555-1234")).toDF("doc_id", "text")
    val r = Curation.piiRedact(docs).orderBy("doc_id")
      .as[(Long, Int, Int, Int, String)].collect()
    assert(r(0) === ((1L, 1, 0, 0, "mail [EMAIL] now")))
    assert(r(1) === ((2L, 0, 2, 0, "call [PHONE] or [PHONE]")))
    assert(r(2) === ((3L, 0, 0, 2, "host [IP] and [IP]")))
    assert(r(3) === ((4L, 0, 0, 0, "clean text, nothing to see")))
    assert(r(4) === ((5L, 1, 1, 1, "[EMAIL] at [IP] dial [PHONE]")))
  }

  test("repetitionStats finds the dominant bigram deterministically") {
    val docs = Seq(
      (1L, "x y x y x y z"), // "x y" 3 of 6 bigrams
      (2L, "a b c d"), // all unique: tie broken by smallest gram "a b"
      (3L, "w")).toDF("doc_id", "text") // < n tokens: no row
    val r = Curation.repetitionStats(docs, n = 2).orderBy("doc_id")
      .as[(Long, Long, String, Long, Double)].collect()
    assert(r.length === 2)
    assert(r(0) === ((1L, 6L, "x y", 3L, 0.5)))
    assert(r(1) === ((2L, 3L, "a b", 1L, 1.0 / 3)))
  }

  test("stratifiedSample is deterministic and respects per-stratum rates") {
    val docs = (0L until 2000L)
      .map(i => (i, if (i % 2 == 0) "en" else "de")).toDF("doc_id", "lang")
    val s = Curation.stratifiedSample(docs, "lang",
      Map("en" -> 10), defaultPct = 50, idCol = "doc_id")
    val once = s.select("doc_id").as[Long].collect().sorted
    val again = Curation.stratifiedSample(docs, "lang",
        Map("en" -> 10), defaultPct = 50, idCol = "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(once === again) // no randomness anywhere
    val byLang = s.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    // hash buckets are uniform-ish: 10% of 1000 en, 50% of 1000 de
    assert(byLang("en") > 50 && byLang("en") < 200)
    assert(byLang("de") > 400 && byLang("de") < 600)
    assert(s.filter(col("bucket") >= 100 || col("bucket") < 0).count() === 0)
  }

  test("packSequences distributed prefix sum matches at any bucket size") {
    val docs = (0L until 500L)
      .map(i => (i, if (i % 3 == 0) "en" else "de",
        Seq.fill((i % 17 + 1).toInt)("t").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    def run(b: Long) = Curation.packSequences(docs, seqLen = 64,
        idBucket = b).orderBy("doc_id")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    val one = run(1000000L) // single bucket: the sequential formulation
    assert(run(7L) === one) // many buckets must agree exactly
    assert(run(64L) === one)
  }

  test("operators degrade to empty outputs on empty input, no crashes") {
    val empty = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "lang", "text")
    assert(Curation.piiRedact(empty).count() === 0)
    assert(Curation.repetitionStats(empty).count() === 0)
    assert(Curation.stratifiedSample(empty, "lang", Map("en" -> 10), 50,
      idCol = "doc_id").count() === 0)
    assert(Curation.packSequences(empty, 512).count() === 0)
    assert(Dedup.jaccardPairs(empty, 0.5).count() === 0)
    assert(Dedup.jaccardPairs(empty, 0.5,
      maxShingleFreq = Some(10)).count() === 0)
    assert(Dedup.dedupCorpus(empty, 0.5).count() === 0)
    assert(Dedup.contamination(empty, empty).count() === 0)
    val some = Seq((1L, "en", "a b c d e f")).toDF("doc_id", "lang", "text")
    assert(Dedup.contamination(some, empty, n = 2).count() === 0)
    assert(Curation.curateCorpus(empty, empty).count() === 0)
  }

  test("packSequences lays docs end-to-end per stratum") {
    val docs = Seq(
      (1L, "en", "a b c"), // 3 toks: seq 0 off 0
      (2L, "en", Seq.fill(510)("t").mkString(" ")), // 510: seq 0 off 3
      (3L, "en", "x y"), // starts at 513 -> seq 1 off 1
      (10L, "de", "u v w")) // independent stratum: seq 0 off 0
      .toDF("doc_id", "lang", "text")
    val r = Curation.packSequences(docs, seqLen = 512)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(r(0) === ((1L, "en", 3L, 0L, 0L)))
    assert(r(1) === ((2L, "en", 510L, 0L, 3L)))
    assert(r(2) === ((3L, "en", 2L, 1L, 1L)))
    assert(r(3) === ((10L, "de", 3L, 0L, 0L)))
  }

  test("curation operators compose into a streaming pipeline unchanged") {
    // piiRedact and stratifiedSample are stateless column pipelines, so
    // the same operator code runs under readStream — the property a
    // unified batch/streaming curation engine needs
    val base = Files.createTempDirectory("graft_stream_cur").toString
    val src = s"$base/src"; val dst = s"$base/dst"; val cp = s"$base/cp"
    Files.createDirectories(Paths.get(src))
    Files.write(Paths.get(src, "d1.json"), Seq(
      """{"doc_id":1,"lang":"en","text":"mail a@b.io please"}""",
      """{"doc_id":2,"lang":"de","text":"nichts zu sehen"}""")
      .mkString("\n").getBytes)
    val sch = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    val stream = spark.readStream.schema(sch).json(src)
    val q = Curation.piiRedact(stream)
      .writeStream.format("parquet").option("path", dst)
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(dst).orderBy("doc_id")
      .select("doc_id", "n_emails", "redacted")
      .as[(Long, Int, String)].collect().toSeq
    assert(got === Seq((1L, 1, "mail [EMAIL] please"),
      (2L, 0, "nichts zu sehen")))
  }
}
