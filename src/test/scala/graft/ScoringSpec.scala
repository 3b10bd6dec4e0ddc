package graft

import graft.operators.{Scoring, Versioning}
import org.apache.spark.sql.functions._

/** Specs for the hashed linear classifier, Unicode script profile,
  * and corpus version delta. */
class ScoringSpec extends SparkSpecBase {
  import spark.implicits._

  test("classifier: logit = bias + sum of token-bucket weights, exact") {
    // tiny weight table: bucket of "good" gets +5, "bad" -7, rest 0
    val b = 64
    val bucketOf: String => Int = t => {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md.substring(0, 6), 16) % b).toInt
    }
    val w = new Array[Long](b)
    w(bucketOf("good")) += 5L
    w(bucketOf("bad")) += -7L
    val docs = Seq(
      (1L, "good good bad"),   // 5 + 5 - 7 = 3
      (2L, "BAD"),             // lowercased => -7
      (3L, ""),                // empty => bias only
      (4L, "neutral words only")).toDF("doc_id", "text")
    val out = Scoring.classifyQuality(docs, col("text"), w, bias = 1L)
      .select("doc_id", "logit", "keep")
      .as[(Long, Long, Boolean)].collect()
      .map { case (k, l, kp) => k -> ((l, kp)) }.toMap
    assert(out(1L) === (4L, true))
    assert(out(2L) === (-6L, false))
    assert(out(3L) === (1L, true))
    // neutral tokens may collide with good/bad buckets only if md5 says
    // so — recompute expected from the same hash
    val expected4 = 1L + Seq("neutral", "words", "only").map(t => w(bucketOf(t))).sum
    assert(out(4L)._1 === expected4)
  }

  test("classifier: partitioning-invariant and scan-side (no shuffle)") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val w = Scoring.syntheticWeights(4096)
    val a = Scoring.classifyQuality(docs, col("text"), w)
      .select("doc_id", "logit").as[(Long, Long)].collect().toSet
    val bset = Scoring.classifyQuality(docs.repartition(7), col("text"), w)
      .select("doc_id", "logit").as[(Long, Long)].collect().toSet
    assert(a === bset)
    val plan = Scoring.classifyQuality(docs, col("text"), w)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"classifier must not shuffle:\n$plan")
  }

  test("persist -> load -> serve: a stored weight vector scores like the in-memory one") {
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet").limit(400)
    val w = Scoring.syntheticWeights(512)
    val path = java.nio.file.Files.createTempDirectory("graft_w").toString + "/w"
    Scoring.saveWeights(spark, path, w)
    assert(Scoring.loadWeights(spark, path, 512).toSeq === w.toSeq)
    def logits(weights: Array[Long]) = Scoring.classifyQuality(docs, col("text"),
        weights, bias = 3L).select("doc_id", "logit").as[(Long, Long)].collect().toSet
    assert(logits(Scoring.loadWeights(spark, path, 512)) === logits(w))
    intercept[IllegalArgumentException] { Scoring.loadWeights(spark, path, 256) }
  }

  test("script profile: counts, dominant script, none on script-free text") {
    val docs = Seq(
      (1L, "hello world"),
      (2L, "Привет мир hello"),     // cyrillic 9 > latin 5
      (3L, "你好世界"),
      (4L, "123 456 ..."),           // digits/punct only -> none
      (5L, "")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id") +: TextAnalysisCols.scriptProfile(col("text")): _*)
    val rows = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getAs[String]("main_script") === "latin")
    assert(rows(1L).getAs[Long]("n_latin") === 10L)
    assert(rows(2L).getAs[String]("main_script") === "cyrillic")
    assert(rows(2L).getAs[Long]("n_cyrillic") === 9L)
    assert(rows(2L).getAs[Long]("n_latin") === 5L)
    assert(rows(3L).getAs[String]("main_script") === "cjk")
    assert(rows(3L).getAs[Long]("n_cjk") === 4L)
    assert(rows(3L).getAs[Double]("main_frac") === 1.0)
    assert(rows(4L).getAs[String]("main_script") === "none")
    assert(rows(4L).getAs[Double]("main_frac") === 0.0)
    assert(rows(5L).getAs[String]("main_script") === "none")
  }

  test("version delta: added/removed/updated/unchanged classified by id+hash") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "content")
    val neu = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("id", "content")
    val out = Versioning.delta(old, neu, col("id"), col("content"),
        col("id"), col("content"))
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "removed", 2L -> "unchanged",
      3L -> "updated", 4L -> "added"))
  }

  test("version delta: scans prune to (id, hash) — no text in the join") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val plan = Versioning.delta(docs, docs, col("doc_id"), col("text"),
      col("doc_id"), col("text")).queryExecution.executedPlan.toString
    // the parquet scans must read only (doc_id, text) — hashing
    // happens before the join, and no other column survives pruning
    val schemas = "ReadSchema: ([^\\n]*)".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(schemas.nonEmpty)
    schemas.foreach { s =>
      assert(s.contains("doc_id") && s.contains("text") && !s.contains("lang"),
        s"scan must prune to (doc_id, text): $s")
    }
  }
}
