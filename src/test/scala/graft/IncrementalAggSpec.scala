package graft

import graft.operators.IncrementalAgg
import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Paths}

class IncrementalAggSpec extends SparkSpecBase {
  import spark.implicits._

  private def fresh(tag: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_incagg_$tag"
    def del(root: java.nio.file.Path): Unit =
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
        } finally walk.close()
      }
    Seq("", ".__graft_agg_applied", ".__graft_agg_staging", ".__graft_agg_old",
        ".__graft_agg_journal")
      .foreach(s => del(Paths.get(p + s)))
    p
  }

  // corpus rows: (id, source, tokens) — tokens nullable like real data
  private val v1 = Seq(
    (1L, "web", Some(100L)), (2L, "web", Some(40L)), (3L, "web", None),
    (4L, "book", Some(900L)), (5L, "book", Some(100L)),
    (6L, "code", Some(7L)))
  // delta: update id 2 (web, 40→45), remove id 6 (code emptied),
  // add ids 7 (book) and 8 (news — brand-new group)
  private val removed = Seq((2L, "web", Some(40L)), (6L, "code", Some(7L)))
  private val added = Seq((2L, "web", Some(45L)), (7L, "book", Some(50L)),
    (8L, "news", Some(11L)))
  private val v2 =
    v1.filterNot(r => removed.exists(_._1 == r._1)) ++ added

  private def df(rows: Seq[(Long, String, Option[Long])]): DataFrame =
    rows.toDF("id", "source", "tokens")

  private def readAgg(path: String): Set[(String, Long, Option[BigDecimal])] =
    spark.read.parquet(path).select("source", "n", "sum_tokens")
      .as[(String, Long, Option[BigDecimal])].collect().toSet

  private def recompute(rows: Seq[(Long, String, Option[Long])]): Set[(String, Long, Option[BigDecimal])] =
    IncrementalAgg.build(df(rows), Seq("source"), Seq("tokens"))
      .select("source", "n", "sum_tokens")
      .as[(String, Long, Option[BigDecimal])].collect().toSet

  test("maintain == full recompute: update, remove, new group, emptied group") {
    val path = fresh("basic")
    IncrementalAgg.build(df(v1), Seq("source"), Seq("tokens"))
      .write.parquet(path)
    assert(readAgg(path) === recompute(v1))

    IncrementalAgg.maintain(spark, path, Seq("source"), Seq("tokens"),
      df(removed), df(added))
    val got = readAgg(path)
    assert(got === recompute(v2),
      "maintained aggregate must equal the full groupBy over the new corpus")
    assert(!got.exists(_._1 == "code"), "emptied group must be dropped")
    assert(got.exists(_._1 == "news"), "delta-only group must be created")
  }

  test("maintenance is order-free: split deltas in any grouping, same table") {
    val a = fresh("order_a"); val b = fresh("order_b")
    Seq(a, b).foreach(p =>
      IncrementalAgg.build(df(v1), Seq("source"), Seq("tokens")).write.parquet(p))
    // one shot on a
    IncrementalAgg.maintain(spark, a, Seq("source"), Seq("tokens"),
      df(removed), df(added))
    // two steps on b, split mid-delta (update applied separately)
    IncrementalAgg.maintain(spark, b, Seq("source"), Seq("tokens"),
      df(removed.take(1)), df(added.take(1)))
    IncrementalAgg.maintain(spark, b, Seq("source"), Seq("tokens"),
      df(removed.drop(1)), df(added.drop(1)))
    assert(readAgg(a) === readAgg(b),
      "decimal sums make maintenance associative — any split, same bits")
  }

  test("schema guard: a table missing a tracked sum column is rejected") {
    val path = fresh("guard")
    IncrementalAgg.build(df(v1), Seq("source"), Seq.empty).write.parquet(path)
    val ex = intercept[IllegalArgumentException] {
      IncrementalAgg.maintain(spark, path, Seq("source"), Seq("tokens"),
        df(removed), df(added))
    }
    assert(ex.getMessage.contains("expected"))
  }

  test("a maintain that fails at any delete or rename of its swap applies its change set once on rerun") {
    def leftovers(path: String) = {
      val f = new java.io.File(path)
      f.getParentFile.list().filter(_.startsWith(f.getName + ".__graft_agg")).toSeq
    }
    def seeded(tag: String) = {
      val path = fresh(tag)
      IncrementalAgg.build(df(v1), Seq("source"), Seq("tokens")).write.parquet(path)
      path
    }
    def maintain(path: String) = IncrementalAgg.maintain(spark, s"file://$path",
      Seq("source"), Seq("tokens"), df(removed), df(added))
    // the agg_maintain sink must find the table too, not bootstrap over it
    def sinkMaintain(path: String) = graft.sinks.Writers.write(
      df(removed).withColumn("__removed", org.apache.spark.sql.functions.lit(true))
        .unionByName(df(added).withColumn("__removed", org.apache.spark.sql.functions.lit(false))),
      graft.meta.SinkSpec(input = "in", name = "agg_sink", paths = Seq(s"file://$path"),
        format = "parquet", saveMode = "agg_maintain",
        aggGroupBy = Seq("source"), aggSums = Seq("tokens")))
    try {
      spark.conf.set("spark.graft.logstore.file", "graft.FaultyLogStore")
      val clean = seeded("swap_clean")
      FaultyLogStore.mutations.set(0)
      maintain(clean)
      val steps = FaultyLogStore.mutations.get()
      assert(readAgg(clean) === recompute(v2))
      assert(steps >= 5, s"only $steps deletes and renames counted")
      for (i <- 0 until steps; rerun <- Seq[String => Unit](maintain, sinkMaintain)) {
        val path = seeded(s"swap_fault$i")
        FaultyLogStore.mutations.set(0)
        FaultyLogStore.failMutation = i
        val failed = scala.util.Try(maintain(path)).isFailure
        FaultyLogStore.failMutation = -1
        // a failure after the commit point is logged, not thrown
        if (failed) rerun(path)
        assert(readAgg(path) === recompute(v2), s"after a failure at step $i")
        if (failed) assert(leftovers(path).isEmpty, s"step $i left ${leftovers(path)}")
      }
    } finally {
      FaultyLogStore.failMutation = -1
      spark.conf.unset("spark.graft.logstore.file")
    }
  }

  test("metadata sink saveMode=agg_maintain: bootstrap then delta-maintain") {
    import org.apache.spark.sql.functions.lit
    val path = fresh("meta")
    def sink = graft.meta.SinkSpec(
      input = "in", name = "agg_sink", paths = Seq(path),
      format = "parquet", saveMode = "agg_maintain",
      aggGroupBy = Seq("source"), aggSums = Seq("tokens"))
    // first write: no table yet — the change frame's added rows (the
    // whole v1 corpus) bootstrap it
    graft.sinks.Writers.write(df(v1), sink)
    assert(readAgg(path) === recompute(v1))
    // second write: a change frame with __removed marking the old
    // versions; result must equal the one-shot recompute of v2
    val change = df(removed).withColumn("__removed", lit(true))
      .unionByName(df(added).withColumn("__removed", lit(false)))
    graft.sinks.Writers.write(change, sink)
    assert(readAgg(path) === recompute(v2))
  }

  test("agg_maintain catalog entry is hermetic per invocation: concurrent + repeated evaluations all correct") {
    // The driver-gate failure shape (r7 AND r8): two evaluations of
    // the entry interleaving on a shared scratch path double-apply the
    // non-idempotent maintain delta — group count right, sums wrong.
    // Hermetic-per-invocation (a fresh UUID subdir per call) makes any
    // schedule safe; this drives 6 evaluations across 3 threads × 2
    // rounds and requires every result to equal the solo baseline.
    val dir = sf()
    def resultMap(d: org.apache.spark.sql.DataFrame): Map[String, (Long, String)] =
      d.selectExpr("source", "n", "cast(sum_n_chars as string)")
        .as[(String, Long, String)].collect()
        .map { case (s, n, t) => s -> (n, t) }.toMap
    val solo = resultMap(Queries.aggMaintain(spark, dir))
    assert(solo.nonEmpty)
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      (1 to 2).foreach { _ =>
        val rs = Await.result(
          Future.sequence((1 to 3).toList.map(_ =>
            Future(resultMap(Queries.aggMaintain(spark, dir))))),
          5.minutes)
        rs.zipWithIndex.foreach { case (r, i) =>
          assert(r === solo, s"concurrent invocation $i diverged from solo")
        }
      }
    } finally pool.shutdown()
  }
}
