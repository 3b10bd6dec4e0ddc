package graft

import graft.operators.Scale
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpecBase {
  import spark.implicits._

  test("saltedEquiJoin == plain join, spread over salt reducers") {
    // skewed fact: key 1 holds 90% of rows
    val fact = ((1 to 900).map(i => (1L, s"v$i")) ++ (1 to 100).map(i => (i.toLong % 7 + 2, s"w$i")))
      .toDF("k", "payload")
    val dim = (1L to 10L).map(k => (k, s"dim$k")).toDF("k", "attr")
    val plain = fact.join(dim, "k").select("k", "payload", "attr")
      .as[(Long, String, String)].collect().toSet
    val salted = Scale.saltedEquiJoin(fact, dim, "k", salts = 8)
      .select("k", "payload", "attr").as[(Long, String, String)].collect().toSet
    assert(salted === plain)
    assert(!salted.isEmpty)
  }

  test("bucketed tables join without exchange or sort") {
    // the in-memory catalog resets per JVM but the warehouse dirs
    // survive — DROP alone can't see orphaned locations
    Seq("g_orders_b", "g_lineitem_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(dir)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    val orders = spark.read.parquet(sf() + "/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val lineitem = spark.read.parquet(sf() + "/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    Scale.writeBucketed(orders, "g_orders_b", Seq("o_orderkey"), 4)
    Scale.writeBucketed(lineitem, "g_lineitem_b", Seq("l_orderkey"), 4)

    val joined = spark.table("g_lineitem_b")
      .join(spark.table("g_orders_b"),
        col("l_orderkey") === col("o_orderkey"))
    val shuffles = joined.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty, s"expected 0 shuffles:\n${joined.queryExecution.executedPlan}")
    // and it still computes the right thing
    val expected = lineitem.join(orders, col("l_orderkey") === col("o_orderkey")).count()
    assert(joined.count() === expected)
  }

  test("q3_revenue_bucketed: zero shuffle exchanges, rows == q3_revenue") {
    // drop stale catalog entries; ensureBucketed itself reclaims any
    // orphaned warehouse locations from prior JVMs
    val tag = graft.operators.Scale.sourceTag(
      Seq(s"${sf()}/orders.parquet", s"${sf()}/lineitem.parquet"))
    Seq(s"graft_orders_bkt_$tag", s"graft_lineitem_bkt_$tag")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val bucketed = Queries.q3RevenueBucketed(spark, sf())
    val plain = Queries.q3Revenue(spark, sf())
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, java.sql.Timestamp, String, Double)].collect().toSet
    assert(rows(bucketed) === rows(plain),
      "bucketing is a physical layout change only — rows must be identical")
    // count() above finalized AQE; the rendered final plan must carry
    // no shuffle exchange (the broadcast exchange for customer is fine)
    val plan = bucketed.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles === 0, s"expected 0 shuffle exchanges:\n$plan")
  }

  test("ensureParallelism is plan-time only — no job, works on streaming frames") {
    // a streaming frame cannot be physically materialized outside a
    // query; the old df.rdd.getNumPartitions probe would throw here,
    // the leaf-stats probe must not
    val stream = spark.readStream.format("rate").load()
    val out = graft.operators.Scale.ensureParallelism(stream)
    assert(out.isStreaming)

    // and on a batch frame it submits no Spark job (the read itself
    // runs a schema-inference job — force analysis BEFORE listening)
    val df = spark.read.parquet(sf() + "/documents.parquet").select("doc_id")
    df.queryExecution.analyzed
    val (_, jobs) = jobsStarted(graft.operators.Scale.ensureParallelism(df))
    assert(jobs.isEmpty, "ensureParallelism submitted a Spark job")
  }

  test("ensureParallelism: file-count cap for non-splittable inputs, suffixed conf ok") {
    import graft.operators.Scale
    val dir = java.nio.file.Files.createTempDirectory("graft_gz").toString
    spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text").coalesce(1)
      .write.mode("overwrite").option("compression", "gzip").json(dir)
    // suffixed conf value must parse (the typed accessor, not toLong)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try {
      // ONE .json.gz file: byte math says many partitions at a 1k
      // split size, but gzip is non-splittable → the file-count cap
      // kicks in and the guard repartitions
      val gz = spark.read.json(dir)
      val out = Scale.ensureParallelism(gz.select("doc_id"))
      assert(out.queryExecution.logical.toString.contains("Repartition"),
        "non-splittable single-file input must be repartitioned")
      // a splittable parquet scan with the same tiny split size is
      // estimated wide and must NOT be repartitioned
      val pq = spark.read.parquet(sf() + "/documents.parquet")
      val outPq = Scale.ensureParallelism(pq.select("doc_id"))
      assert(!outPq.queryExecution.logical.toString.contains("Repartition"),
        "splittable input with a wide estimate must not be repartitioned")
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("estimatedRows: parquet footer estimate is close to the true count") {
    val df = spark.read.parquet(sf() + "/documents.parquet")
    val est = graft.operators.Scale.estimatedRows(df)
    val actual = df.count().toDouble
    assert(est > actual * 0.5 && est < actual * 2.0,
      s"footer estimate $est too far from $actual")
  }

  test("compact: many small files collapse to the byte-sized target, rows conserved") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val small = s"$tmp/small"
    val compacted = s"$tmp/compacted"
    val src = spark.read.parquet(sf() + "/documents.parquet").select("doc_id", "text")
    src.repartition(40).write.parquet(small) // the small-files problem
    def dataFiles(p: String) =
      new java.io.File(p).listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles(small) === 40)
    val reread = spark.read.parquet(small)
    val n = Scale.compact(reread, compacted, targetBytes = 1L << 30)
    assert(n === 1, s"tiny dataset must compact to 1 file, got $n")
    assert(dataFiles(compacted) === 1)
    assert(spark.read.parquet(compacted).count() === src.count())
    // no shuffle: compaction coalesces (same shape compact() writes)
    val plan = reread.coalesce(1).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"compact must not shuffle:\n$plan")
  }

  test("writeRangeLayout: per-file key ranges are pairwise disjoint") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_range").toString
    val src = spark.read.parquet(sf() + "/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    Scale.writeRangeLayout(src, tmp, Seq("o_orderkey"), partitions = 8)
    val files = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    assert(files.length >= 4, s"expected multiple range files, got ${files.length}")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("o_orderkey"),
          org.apache.spark.sql.functions.max("o_orderkey")).first()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hiA), (loB, _)) =>
        assert(hiA < loB, s"file ranges overlap: $hiA >= $loB (${ranges.toSeq})")
      case _ =>
    }
    // and the layout conserves the data
    assert(spark.read.parquet(tmp).count() === src.count())
  }

  test("writeZOrder: per-file spans narrow on BOTH keys vs single-key layout") {
    val src = spark.read.parquet(sf() + "/orders.parquet")
      .select("o_orderkey", "o_custkey")
    def fileSpans(dir: String, key: String): Seq[Double] = {
      val g = spark.read.parquet(dir)
        .agg(org.apache.spark.sql.functions.min(key),
          org.apache.spark.sql.functions.max(key)).first()
      val (gLo, gHi) = (g.getLong(0).toDouble, g.getLong(1).toDouble)
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
        .map { f =>
          val r = spark.read.parquet(f)
            .agg(org.apache.spark.sql.functions.min(key),
              org.apache.spark.sql.functions.max(key)).first()
          (r.getLong(1) - r.getLong(0)).toDouble / (gHi - gLo)
        }
    }
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val zDir = java.nio.file.Files.createTempDirectory("graft_z").toString
    Scale.writeZOrder(src, zDir, Seq("o_orderkey", "o_custkey"), partitions = 8)
    val rDir = java.nio.file.Files.createTempDirectory("graft_r").toString
    Scale.writeRangeLayout(src, rDir, Seq("o_orderkey"), partitions = 8)
    assert(spark.read.parquet(zDir).count() === src.count())
    val (zA, zB) = (mean(fileSpans(zDir, "o_orderkey")), mean(fileSpans(zDir, "o_custkey")))
    val rB = mean(fileSpans(rDir, "o_custkey"))
    info(f"z-order mean span: orderkey $zA%.2f custkey $zB%.2f; range-layout custkey $rB%.2f")
    // the single-key layout leaves the second key unclustered (every
    // file spans ~the whole custkey range); z-order narrows both
    assert(zA < 0.75 && zB < 0.75, f"z spans too wide: $zA%.2f / $zB%.2f")
    assert(zB < rB * 0.8, f"z-order custkey span $zB%.2f not better than range's $rB%.2f")
  }
}
