package graft

import graft.functions.DdSketchExprs
import org.apache.spark.sql.functions._

/** DDSketch quantiles: relative-error bound vs exact, bit-exact
  * partitioning invariance, persist-then-union. */
class DdSketchSpec extends SparkSpecBase {

  test("quantile estimates within the alpha relative-error bound") {
    val df = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
      .select(col("l_extendedprice").cast("double").as("v"))
    val qs = Seq(0.1, 0.5, 0.9, 0.99)
    val exact = df.stat.approxQuantile("v", qs.toArray, 0.0) // exact at rel 0
    val sk = df.agg(expr("dd_sketch(v)").as("s"))
    val est = qs.zipWithIndex.map { case (q, i) =>
      sk.select(DdSketchExprs.ddQuantile(col("s"), lit(q))).first().getDouble(0) -> exact(i)
    }
    est.foreach { case (e, x) =>
      val rel = math.abs(e - x) / x
      info(f"dd quantile est $e%.2f vs exact $x%.2f (rel $rel%.4f)")
      assert(rel <= 0.02, f"relative error $rel%.4f above bound")
    }
  }

  test("sketch bytes are identical under repartitioning") {
    val df = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
      .select(col("l_quantity").cast("double").as("v"))
    def bytes(d: org.apache.spark.sql.DataFrame): Seq[Byte] =
      d.agg(expr("dd_sketch(v)").as("s"))
        .first().getAs[Array[Byte]]("s").toSeq
    assert(bytes(df) === bytes(df.repartition(17)))
  }

  test("per-group sketches persist to parquet and union to the global sketch") {
    val df = spark.read.parquet(sf("sf0.01") + "/orders.parquet")
      .select(col("o_totalprice").cast("double").as("v"),
        (col("o_orderkey") % 7).as("day"))
    val daily = df.groupBy("day").agg(expr("dd_sketch(v)").as("sketch"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_dd").toString
    daily.write.mode("overwrite").parquet(tmp)
    val merged = spark.read.parquet(tmp)
      .agg(expr("dd_union(sketch)").as("s"))
      .first().getAs[Array[Byte]]("s").toSeq
    val direct = df.agg(expr("dd_sketch(v)").as("s"))
      .first().getAs[Array[Byte]]("s").toSeq
    assert(merged === direct, "union of partial sketches must equal the global sketch")
  }

  test("zeros and loud negatives") {
    import spark.implicits._
    val z = Seq(0.0, 0.0, 5.0).toDF("v")
      .agg(expr("dd_sketch(v)").as("s"))
    val q50 = z.select(DdSketchExprs.ddQuantile(col("s"), lit(0.5))).first().getDouble(0)
    assert(q50 === 0.0, s"median of (0,0,5) is 0, got $q50")
    val err = intercept[Exception] {
      Seq(-1.0).toDF("v").agg(expr("dd_sketch(v)").as("s")).collect()
    }
    assert(err.getMessage.contains("mirror negatives") ||
      err.getCause != null && err.getCause.getMessage.contains("mirror negatives"))
  }

  test("portable mode: relative error <= 2^-(j+1), bytes partition-invariant") {
    val df = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
      .select(col("l_extendedprice").cast("double").as("v"))
    val qs = Seq(0.1, 0.5, 0.9, 0.99)
    val exact = df.stat.approxQuantile("v", qs.toArray, 0.0)
    val sk = df.agg(DdSketchExprs.ddSketchPortable(col("v"), 6).as("s"))
    qs.zipWithIndex.foreach { case (q, i) =>
      val e = sk.select(DdSketchExprs.ddQuantile(col("s"), lit(q))).first().getDouble(0)
      val rel = math.abs(e - exact(i)) / exact(i)
      info(f"portable dd q$q est $e%.2f vs exact ${exact(i)}%.2f (rel $rel%.4f)")
      assert(rel <= 1.0 / 128.0, f"relative error $rel%.5f above 2^-7")
    }
    def bytes(d: org.apache.spark.sql.DataFrame): Seq[Byte] =
      d.agg(DdSketchExprs.ddSketchPortable(col("v"), 6).as("s"))
        .first().getAs[Array[Byte]]("s").toSeq
    assert(bytes(df) === bytes(df.repartition(17)))
  }

  test("portable mode: bucket estimates are exact dyadic midpoints (engine-replayable)") {
    import spark.implicits._
    // a single value v in [2^e, 2^(e+1)) estimates to the arithmetic
    // midpoint of its bucket: 2^e * (1 + (2*sb+1)/128) — checked
    // against independent bit arithmetic here; the dd_quantile_portable
    // oracle proves the same decode in DuckDB
    for (v <- Seq(1.0, 1.5, 13.0, 901.82, 0.07, 1e-300)) {
      val est = Seq(v).toDF("v")
        .agg(DdSketchExprs.ddSketchPortable(col("v"), 6).as("s"))
        .select(DdSketchExprs.ddQuantile(col("s"), lit(0.5))).first().getDouble(0)
      val bits = java.lang.Double.doubleToRawLongBits(v)
      val e = ((bits >>> 52) & 0x7FF).toInt - 1023
      val sb = ((bits & 0xFFFFFFFFFFFFFL) >>> 46).toInt
      val want = Math.scalb(1.0 + (2.0 * sb + 1.0) / 128.0, e)
      assert(est === want, s"v=$v: est $est != exact midpoint $want")
      assert(math.abs(est - v) / v <= 1.0 / 128.0)
    }
    // subnormals clamp into bucket 0 (documented), infinities reject
    val sub = Seq(java.lang.Double.MIN_VALUE).toDF("v")
      .agg(DdSketchExprs.ddSketchPortable(col("v"), 6).as("s"))
      .select(DdSketchExprs.ddQuantile(col("s"), lit(0.5))).first().getDouble(0)
    assert(sub === Math.scalb(1.0 + 1.0 / 128.0, -1022))
    val inf = intercept[Exception] {
      Seq(Double.PositiveInfinity).toDF("v")
        .agg(DdSketchExprs.ddSketchPortable(col("v")).as("s")).collect()
    }
    assert(inf.getMessage.contains("finite") ||
      inf.getCause != null && inf.getCause.getMessage.contains("finite"))
  }

  test("portable and standard sketches refuse to union") {
    import spark.implicits._
    val a = Seq(1.0).toDF("v").agg(expr("dd_sketch(v)").as("s"))
    val b = Seq(2.0).toDF("v").agg(DdSketchExprs.ddSketchPortable(col("v"), 6).as("s"))
    val err = intercept[Exception] {
      a.unionByName(b).agg(expr("dd_union(s)")).collect()
    }
    assert(err.getMessage.contains("accuracies") ||
      err.getCause != null && err.getCause.getMessage.contains("accuracies"))
  }
}
