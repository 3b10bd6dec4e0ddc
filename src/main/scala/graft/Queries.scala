package graft

import graft.meta.{AddedField, FieldMapping, ValidationRule}
import graft.operators._
import graft.sources.Readers
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The operator catalog: every SURVEY.md §2 entry as a runnable query
 * over the driver's testdata tables, with a DuckDB oracle where the
 * semantics are ANSI-SQL-expressible.
 *
 * Determinism rules (so Spark and DuckDB hash-match):
 *  - monetary aggregates cast to decimal BEFORE summing (exact
 *    arithmetic), final cast back to double for a stable schema;
 *  - ratios computed as one double division of exact integers;
 *  - regex patterns restricted to constructs Java and RE2 share;
 *  - every computed column aliased identically here and in the oracle.
 */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Readers.table(s, dir, name)

  /** Corpus shingle-frequency artifact for the PPJoin family, computed
    * ONCE per corpus dir and reused by every ngram-based query (ngram /
    * clusters / incremental / both pipelines) and across bench runs —
    * the steady-state shape: frequency order is a train-once corpus
    * statistic exactly like the IVF codebook, not a per-query plan-time
    * action. Reuse is exactness-safe: any consistent frequent set is a
    * valid global order; it only shapes candidate counts (results are
    * rescored exactly), so a set computed on the full corpus serves
    * filtered subsets of it too. */
  private def corpusStats(s: SparkSession, dir: String): Option[Dedup.ShingleStats] =
    Some(fixture("freq", dir)(
      Dedup.shingleStats(t(s, dir, "documents"), col("text"), col("doc_id"))))

  /** Exact money: double → decimal(12,2). */
  private def dec(c: Column): Column = c.cast("decimal(12,2)")
  /** Exact small ratio (discount/tax): double → decimal(4,2). */
  private def dec4(c: Column): Column = c.cast("decimal(4,2)")

  // ====================================================================
  // Reference surface: sources
  // ====================================================================

  /** Per-JVM scratch root: pid + random nonce so CONCURRENT JVMs on
    * the same box (driver verify + builder bench) can never share a
    * scratch path. That matters because `aggMaintain` is a
    * read-modify-swap (non-idempotent — two processes interleaving on
    * one path double-apply the delta) and the snapshot/vec-index
    * memos delete-and-rebuild their tree on first touch. Best-effort
    * recursive cleanup on JVM exit. */
  private val scratchRoot: String = {
    val r = s"${System.getProperty("java.io.tmpdir")}/graft_scratch_" +
      s"${ProcessHandle.current().pid()}_${java.util.UUID.randomUUID().toString.take(8)}"
    // scratch IO rides the LogStore fabric like every operator's
    // metadata IO, so catalog-query scratch works unchanged on a
    // scheme-qualified tmpdir
    val store = graft.operators.LogStore.forPath(r)
    store.mkdirs(r)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try store.deleteTree(r) catch { case _: Exception => () }
    }))
    r
  }

  /** Scratch dir unique per (JVM, tag, input dir): parallel Verify
    * runs on different SFs must not clobber each other's round-trip
    * files, and parallel JVMs must not touch each other's at all. */
  private def scratch(tag: String, dir: String): String =
    s"$scratchRoot/${tag}_${Integer.toHexString(dir.hashCode)}"

  /** Build-once catalog fixture (a snapshot table, a persisted index or
    * codebook, corpus statistics), memoized per (fixture name, input
    * dir) for the JVM's lifetime. The map only hands out the cell, so a
    * fixture's build may itself use other fixtures; concurrent callers
    * of one fixture wait on its single build, and a build that throws
    * is retried on the next call. */
  private final class Fixture(build: => Any) { lazy val value: Any = build }
  private val fixtures =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Fixture]()
  private def fixture[T](name: String, dir: String)(build: => T): T =
    fixtures.computeIfAbsent((name, dir), _ => new Fixture(build))
      .value.asInstanceOf[T]

  /** JSON-lines source round-trip (reference: src/reader.py:25-27). */
  def srcJson(s: SparkSession, dir: String): DataFrame = {
    val p = scratch("src_json", dir)
    t(s, dir, "events").select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").json(p)
    Readers.json(s, p, schema = Some(
      org.apache.spark.sql.types.StructType.fromDDL(
        "event_id LONG, event_type STRING, value DOUBLE")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
  }

  /** CSV source round-trip (reference: src/reader.py:28-40). */
  def srcCsv(s: SparkSession, dir: String): DataFrame = {
    val p = scratch("src_csv", dir)
    t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").option("header", "true").csv(p)
    Readers.csv(s, p, schema = Some(
      org.apache.spark.sql.types.StructType.fromDDL(
        "o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE")))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
  }

  /** ORC source round-trip (columnar alternative to parquet; built-in
    * datasource, same pushdown/pruning). */
  def srcOrc(s: SparkSession, dir: String): DataFrame = {
    val p = scratch("src_orc", dir)
    t(s, dir, "part").select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      .write.mode("overwrite").orc(p)
    Readers.orc(s, p)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("p_retailprice"))).cast("double").as("sum_price"))
  }

  /** Avro source round-trip (the row-oriented interchange format:
    * write the projection out as Avro, read it back, aggregate).
    * Spark 4 ships the Avro DataSource inside spark-sql but reserves
    * the "avro" name for the external artifact — [[Readers.avro]]
    * names the implementation class to reach it. */
  def srcAvro(s: SparkSession, dir: String): DataFrame = {
    val p = scratch("src_avro", dir)
    Readers.writeAvro(
      t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal")), p)
    Readers.avro(s, p)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("s_acctbal"))).cast("double").as("sum_bal"))
  }

  // ====================================================================
  // Reference surface: normalize / projection / metadata fields
  // ====================================================================

  /** Coalesce prioritized sources (reference: transformations.py:137). */
  def normalizeCoalesce(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "customer").withColumn("alt_bal",
      when(col("c_acctbal") < 0, lit(0.0)).otherwise(lit(null).cast("double")))
    Normalize.normalizeFields(base,
        Seq(FieldMapping("bal_norm", Seq("missing_col", "alt_bal", "c_acctbal"))))
      .select(col("c_custkey"), col("bal_norm"))
  }

  /** Auto-flatten nested structs (reference: transformations.py:93). */
  def normalizeFlatten(s: SparkSession, dir: String): DataFrame = {
    val parsed = t(s, dir, "events")
      .select(col("event_id"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")).as("p"))
    Normalize.flattenStructs(parsed, "snake_case")
      .select(col("event_id"), col("p_k"))
  }

  def selectColumnsQ(s: SparkSession, dir: String): DataFrame =
    Projection.selectColumns(t(s, dir, "part"),
      Seq("p_partkey", "p_name", "p_retailprice", "p_ghost_column"))

  def dropColumnsQ(s: SparkSession, dir: String): DataFrame =
    Projection.dropColumns(t(s, dir, "supplier"),
      Seq("s_nationkey", "s_acctbal", "s_ghost_column"))

  def addFieldsQ(s: SparkSession, dir: String): DataFrame =
    Projection.addFields(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
      Seq(AddedField("batch_tag", None, Some("r1"))))

  // ====================================================================
  // Reference surface: validation
  // ====================================================================

  /** Rule set used by the validation queries (mixed pass/fail). */
  private val customerRules = Seq(
    ValidationRule("c_name", Seq("notEmpty", "pattern:^Customer#\\d+$")),
    ValidationRule("c_acctbal", Seq("notNull", "isNumeric", "min:0")),
    ValidationRule("c_mktsegment", Seq("notEmpty")),
    ValidationRule("c_custkey", Seq("isInteger")))

  def validateOk(s: SparkSession, dir: String): DataFrame =
    Validate.split(t(s, dir, "customer"), customerRules)._1

  def validateKo(s: SparkSession, dir: String): DataFrame =
    Validate.split(t(s, dir, "customer"), customerRules)._2
      .withColumn("errors", array_join(col(Validate.ErrorsCol), ","))
      .drop(Validate.ErrorsCol)

  /** Date checks incl. cross-field dateBefore/dateAfter. */
  def validateDateOk(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("start_str"),
      date_format(
        when(col("o_orderkey") % 7 === 0, date_sub(col("o_orderdate"), 10))
          .otherwise(date_add(col("o_orderdate"), 30)), "yyyy-MM-dd").as("end_str"))
    Validate.split(o, Seq(
      ValidationRule("start_str", Seq("isDate", "dateBefore:end_str")),
      ValidationRule("end_str", Seq("isDate", "dateAfter:start_str"))))._1
  }

  // ====================================================================
  // Reference surface: stats
  // ====================================================================

  private val statsFields = Seq("l_quantity", "l_extendedprice", "l_discount", "l_orderkey")

  /** Pinned to exact distinct so the DuckDB oracle holds at EVERY
    * scale factor — the HLL auto-switch (the default) would flip to
    * approx_count_distinct above the size threshold (~sf0.1 lineitem)
    * and is exercised by its own spec instead. */
  def fieldStatsQ(s: SparkSession, dir: String): DataFrame =
    StatsOp.fieldStats(t(s, dir, "lineitem"), statsFields,
        approxDistinct = Some(false))
      .select(col("field"), col("null_count"), col("non_null_count"),
        col("distinct_count"), col("min_num"), col("max_num"), col("null_pct"))

  /** The SCALE branch of fieldStats — HyperLogLog distinct counting,
    * single pass, constant-size state per field (what a 100 TB run
    * executes). Full oracle via the PORTABLE sketch mode
    * ([[graft.functions.HllExprs.HllSketchAgg]]): md5-prefix hashing
    * + integer-exact register sums make the estimate reproducible
    * bit-for-bit by any md5-capable engine, so DuckDB rebuilds the
    * registers in SQL and the approximation itself is cross-checked.
    * Exactness bounds + plan shape (no exact-distinct Expand) stay
    * spec-gated in StatsOpSpec/PlanGuardSpec. */
  def fieldStatsApproxQ(s: SparkSession, dir: String): DataFrame =
    StatsOp.fieldStats(t(s, dir, "lineitem"), statsFields,
        approxDistinct = Some(true), portableSketch = true)
      .select(col("field"), col("null_count"), col("non_null_count"),
        col("distinct_count"), col("min_num"), col("max_num"), col("null_pct"))

  def fieldQuantilesQ(s: SparkSession, dir: String): DataFrame =
    StatsOp.numericQuantiles(t(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount"))

  /** PORTABLE DDSketch quantiles (j=6 → relative error ≤ 2^-7 ≈
    * 0.78%): power-of-two sub-bucketed buckets indexed by bit math,
    * estimates decoded with exact IEEE arithmetic — so this APPROX
    * quantile operator carries a full oracle: DuckDB rebuilds the
    * buckets from the raw values with a recursive-doubling pow2 table
    * and must match every estimate bit-for-bit (the same
    * verification trick as the portable HLL/CMS modes; closes the
    * "DDSketch is the only sketch without a portable mode" gap). */
  def ddQuantilePortable(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.DdSketchExprs.{ddSketchPortable, ddQuantile}
    t(s, dir, "lineitem")
      .agg(ddSketchPortable(col("l_extendedprice"), 6).as("skp"),
        ddSketchPortable(col("l_quantity"), 6).as("skq"))
      .select(explode(typedLit(Seq(0.25, 0.5, 0.9, 0.99))).as("q"),
        col("skp"), col("skq"))
      .select(col("q"),
        ddQuantile(col("skp"), col("q")).as("est_price"),
        ddQuantile(col("skq"), col("q")).as("est_qty"))
  }

  def fieldTopkQ(s: SparkSession, dir: String): DataFrame =
    StatsOp.topValues(t(s, dir, "orders"),
      Seq("o_orderstatus", "o_orderpriority"), k = 3)

  def validationStatsQ(s: SparkSession, dir: String): DataFrame =
    StatsOp.validationStats(Validate.tagged(t(s, dir, "customer"), customerRules))

  def topErrorsQ(s: SparkSession, dir: String): DataFrame =
    StatsOp.topErrors(Validate.split(t(s, dir, "customer"), customerRules)._2)

  // ====================================================================
  // Reference surface: the metadata-driven engine end-to-end
  // ====================================================================

  def dataflowE2e(s: SparkSession, dir: String): DataFrame = {
    val spec =
      s"""{"dataflows":[{
         |  "name":"customer-ingestion",
         |  "sources":[{"name":"cust","path":"$dir/customer.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"norm","type":"normalize_fields","params":{
         |      "input":"cust","output":"normed","fields":[
         |        {"name":"segment","sources":["missing_col","c_mktsegment"]}]}},
         |    {"name":"tag","type":"add_fields","params":{
         |      "input":"normed","output":"tagged_f","fields":[
         |        {"name":"source_tag","literal":"motor"}]}},
         |    {"name":"validation","type":"validate_fields","params":{
         |      "input":"tagged_f",
         |      "validations":[
         |        {"field":"c_acctbal","validations":["notNull","min:0"]},
         |        {"field":"c_name","validations":["notEmpty"]}],
         |      "ok_output":"validation_ok","ko_output":"validation_ko"}},
         |    {"name":"final","type":"select_columns","params":{
         |      "input":"validation_ok",
         |      "columns":["c_custkey","c_name","segment","source_tag"]}}
         |  ],
         |  "sinks":[]}]}""".stripMargin
    val flow = graft.meta.MetaLoader.loadString(spec).dataflow("customer-ingestion")
    Dataflow.plan(s, flow)("final")
  }

  // ====================================================================
  // Analytics core
  // ====================================================================

  /** TPC-H Q1-style pricing summary; exact decimal arithmetic. */
  def q1Pricing(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    val disc = lit(1) - dec4(col("l_discount"))
    val charge = dec(col("l_extendedprice")) * disc * (lit(1) + dec4(col("l_tax")))
    li.groupBy("l_returnflag", "l_linestatus").agg(
      sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
      sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
      sum(dec(col("l_extendedprice")) * disc).cast("double").as("sum_disc_price"),
      sum(charge).cast("double").as("sum_charge"),
      (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
      (sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
      count(lit(1)).as("count_order"))
  }

  /** TPC-H Q3-style: top revenue orders for one segment (broadcast dim). */
  def q3Revenue(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-07-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec4(col("l_discount"))))
        .cast("double").as("revenue"))
  }

  /** Q3 through the SALTED fact⋈dim join ([[operators.Scale
    * .saltedEquiJoin]], salts=8): the hot-key mitigation when the dim
    * side is too big to broadcast and one join key dominates — each
    * lineitem row gets a deterministic row-hash salt, the
    * orders-side rows replicate once per salt, and the hot key's rows
    * spread over 8 reducers. Output is CONTRACTUALLY the plain inner
    * equi-join, so this rides `q3_revenue`'s oracle verbatim — the
    * hash match proves salting is a pure physical transformation. */
  def q3RevenueSalted(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_orderpriority"))
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-07-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    operators.Scale.saltedEquiJoin(li,
        ord.join(broadcast(cust), col("o_custkey") === col("c_custkey")),
        "l_orderkey", salts = 8)
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec4(col("l_discount"))))
        .cast("double").as("revenue"))
  }

  /** Q3 over PRE-BUCKETED fact tables — the regime-boundary answer to
    * what ScaleBench measured at ×10 data: orders outgrows the
    * broadcast threshold and q3's orders⋈lineitem flips to a shuffle
    * join (×117 shuffle bytes). Bucketing both facts by the join key
    * at WRITE time moves that exchange out of every subsequent query:
    * the sort-merge join reads co-located buckets (ZERO
    * ShuffleExchange in the plan — asserted by ScaleSpec), the
    * customer dim still broadcasts (broadcast-hash-join preserves the
    * streamed side's bucketed distribution), and the post-join
    * aggregate reuses the same distribution because its grouping keys
    * contain the bucket key. Buckets are written once per SF dir
    * (name carries a dir tag) and reused across runs — the write is
    * the once-per-ingest cost this layout amortizes; at cluster scale
    * the bucket count scales with the data (32 here ≈ one per core at
    * local[32], think 2048+ for 100 TB). Rows are hash-identical to
    * `q3_revenue`: same oracle, physical-plan change only. */
  def q3RevenueBucketed(s: SparkSession, dir: String): DataFrame = {
    // content fingerprint, not dir.hashCode: a regenerated source dir
    // changes the tag (no stale bucketed rows), and distinct SF dirs
    // cannot alias one table (Scale.sourceTag docs)
    val tag = Scale.sourceTag(Seq(s"$dir/orders.parquet", s"$dir/lineitem.parquet"))
    val ordT = s"graft_orders_bkt_$tag"
    val liT = s"graft_lineitem_bkt_$tag"
    Scale.ensureBucketed(s, ordT, Seq("o_orderkey"), numBuckets = 32)(
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"))
    Scale.ensureBucketed(s, liT, Seq("l_orderkey"), numBuckets = 32)(
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"))
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = s.table(ordT)
      .filter(col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
    val li = s.table(liT)
      .filter(col("l_shipdate") > lit("1998-07-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec4(col("l_discount"))))
        .cast("double").as("revenue"))
  }

  /** TPC-H Q5-style: revenue by nation, region-filtered 6-way join. */
  def q5NationRevenue(s: SparkSession, dir: String): DataFrame = {
    val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val nation = t(s, dir, "nation")
    val dims = broadcast(nation.join(region, col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name"))
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val supp = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(dims, col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec4(col("l_discount"))))
        .cast("double").as("revenue"))
  }

  /** Window rank: top 3 customers by balance per nation. */
  def qTopCustomers(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    t(s, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey"), col("c_name"), col("c_acctbal"), col("rn"))
  }

  /** Anti join: customers with no high-value (>300k) order. (Plain
    * "no orders at all" is empty at every SF in this synthetic data —
    * the filtered variant actually exercises the anti join.) */
  def qNoOrderCustomers(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_totalprice") > 300000).select("o_custkey")
    t(s, dir, "customer")
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_acctbal")
  }

  /** Time-bucketed event aggregation. */
  def qEventsHourly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))

  /** JSON extraction from a string column. */
  def qEventsProps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("value"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))

  /** Conditional aggregation (pivot-style event counts per user). */
  def qEventPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").groupBy("user_id").agg(
      count(when(col("event_type") === "purchase", 1)).as("purchases"),
      count(when(col("event_type") === "view", 1)).as("views"),
      count(when(col("event_type") === "click", 1)).as("clicks"),
      count(when(col("event_type") === "signup", 1)).as("signups"),
      count(when(col("event_type") === "error", 1)).as("errors"),
      sum(when(col("event_type") === "purchase", dec(col("value")))
        .otherwise(lit(0).cast("decimal(12,2)"))).cast("double").as("purchase_value"))

  /** Rollup: revenue at (flag, status), (flag), and grand-total
    * levels in one pass (partial-agg friendly GROUPING SETS). */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"))

  /** Full CUBE over (returnflag, linestatus): all four grouping
    * combinations in one pass. The base rows are PRE-AGGREGATED by
    * the full dimension pair first: CUBE plans an Expand (rows ×
    * grouping sets — 4× the scan feeding the aggregate), and both
    * measures are algebraic (count ≡ sum of partial counts, sum ≡ sum
    * of exact-decimal partial sums), so cubing the ~|flag×status|
    * pre-aggregate is row-for-row identical to cubing the raw scan
    * (subtotal rows fold null dimension values either way) while the
    * Expand multiplies a handful of rows instead of the corpus (opt
    * guide §2.3: aggregate before you shuffle). */
  def qCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("__n"), sum(dec(col("l_quantity"))).as("__q"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("__n")).as("n"),
        sum(col("__q")).cast("double").as("sum_qty"))

  /** Hourly resample WITH gap filling: every hour between each
    * event_type's first and last event exists in the output, empty
    * hours as zero — sequence+explode generates the dense time axis,
    * a left join fills it (the time-series densify primitive). */
  def qResample(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
    val counts = ev.groupBy("event_type", "h").agg(count(lit(1)).as("n"))
    val axis = ev.groupBy("event_type")
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("h"))
    axis.join(counts, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h").cast("string").as("hour"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Window ntile: quartile of each customer's balance per segment. */
  def qNtile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        ntile(4).over(w).as("bal_quartile"),
        // explicit floor: DuckDB's double→BIGINT cast rounds, Spark's
        // truncates — floor() agrees on both engines
        floor(percent_rank().over(w) * 1000).cast("long").as("pr_millis"))
  }

  /** Set ops: high-balance customers vs customers with urgent orders —
    * intersect and except in one union-tagged result. */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
      .select("c_custkey")
    val urgent = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey")).distinct()
    rich.intersect(urgent).withColumn("category", lit("rich_and_urgent"))
      .unionAll(rich.except(urgent).withColumn("category", lit("rich_only")))
      .unionAll(urgent.except(rich).withColumn("category", lit("urgent_only")))
  }

  /** Gap-based sessionization (30-minute inactivity gap). */
  /** Rolling z-score anomaly flags: each event scored against its
    * user's TRAILING window (current row excluded — the score must
    * not see the value it judges); z and the stats are 6dp-rounded so
    * the incremental sliding-frame stddev is cross-engine stable.
    * The live-metrics outlier primitive beside the batch IQR gate. */
  def qAnomaly(s: SparkSession, dir: String): DataFrame = {
    val wnd = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(-9, -1)
    val m = avg(col("value")).over(wnd)
    val sd = stddev_samp(col("value")).over(wnd)
    val n = count(lit(1)).over(wnd)
    val z = when(n >= 5 && sd > 0, round((col("value") - m) / sd, 6))
    t(s, dir, "events").select(
      col("user_id"), col("event_id"),
      n.as("n_hist"),
      round(m, 6).as("hist_mean"),
      round(sd, 6).as("hist_std"),
      z.as("z"),
      coalesce(abs(z) > 3.0, lit(false)).as("is_anomaly"))
  }

  /** Gap sessionization via Spark's NATIVE session_window — the
    * codegen'd built-in the custom lag/cumsum construction predates;
    * one shuffle on (user, evolving session), no window functions.
    * Emits the session interval itself: window end = last event +
    * gap, and an event landing EXACTLY on the end boundary opens a
    * new session (exclusive end — the oracle mirrors with `>=`). */
  def qSessionsSw(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("sess_events"))
      .select(col("user_id"),
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("sess_events"))

  def qSessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(wAll))
      .groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("sess_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("sess_events")).as("n_events"),
        max(col("sess_events")).as("max_session_events"))
  }

  // ====================================================================
  // LLM-data ops (batch 1: the SQL-expressible ones)
  // ====================================================================

  /** Exact dedup: one representative (min id) per distinct content. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), col("text"), col("doc_id"))

  /** n-gram Jaccard near-dup pairs (3-shingles, j ≥ 0.8). */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(t(s, dir, "documents"), col("text"), col("doc_id"),
      statsIn = corpusStats(s, dir))

  /** MinHash + LSH near-dup pairs, exactly verified (true Jaccard
    * ≥ 0.8) — the LSH-then-verify construction, full DuckDB oracle.
    * The raw-estimate path (`Dedup.minhashLsh`) is spec-covered. */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshVerified(t(s, dir, "documents"), col("text"), col("doc_id"))

  /** SimHash-blocked near-dup pairs, exactly verified (true Jaccard
    * ≥ 0.8) — hamming ≤ 12 multi-index blocking (7 chunks,
    * Hamming-1-ball probes), exact rescore, full DuckDB oracle. The
    * raw hamming-pairs path (`Dedup.simhash`) is spec-covered. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashVerified(t(s, dir, "documents"), col("text"), col("doc_id"))

  /** Incremental SimHash near-dup: the %10 batch probes the standing
    * corpus' chunk table; the oracle is the FULL exact pair set
    * restricted to batch-touching rows (incremental ≡ full as a hash
    * check, like the jaccard/cluster/embedding family members). */
  def dedupSimhashIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.simhashVerifiedIncremental(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      col("text"), col("doc_id"))
  }

  /** Incremental near-dup: every 10th doc plays the "incoming batch",
    * the rest the standing corpus; output pairs involve at least one
    * incoming doc (corpus-internal pairs are not re-derived). */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.ngramJaccardIncremental(
      corpus = docs.filter(col("doc_id") % 10 =!= 0),
      incoming = docs.filter(col("doc_id") % 10 === 0),
      col("text"), col("doc_id"), statsIn = corpusStats(s, dir))
  }

  /** Duplicate clusters: connected components over the near-dup
    * graph, min-id canonical labels — banded-LSH candidates
    * ([[operators.Dedup.nearDupClusters]]): candidate volume tracks
    * duplicate mass instead of Σdf² (measured at the ×10 corpus:
    * 150 MB / 3.4 s vs the exact prefix join's 1.8 GB / 4.7 s). The
    * oracle's recursive CTE replays the FULL exact pair graph — the
    * gate certifies the banded candidates missed nothing, the same
    * guarantee `dedup_minhash` carries. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupClusters(t(s, dir, "documents"), col("text"), col("doc_id"))

  /** INCREMENTAL cluster maintenance ([[operators.Dedup
    * .duplicateClustersIncremental]]): yesterday's labels (corpus
    * minus the %10 batch) + only the batch-touching pair delta fold
    * into today's labels — and the oracle is `dedup_clusters`' FULL
    * corpus closure verbatim, so the hash match proves incremental ≡
    * full recompute (components split by the missing batch docs
    * re-merge through their edges; membership and min-id labels
    * coincide). Work is |labels| + |batch pairs| — the nightly-delta
    * shape at 100 TB. */
  def dedupClustersIncrementalQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val old = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    // OVERLAP the two independent sub-pipelines (opt guide §2.6): the
    // composite's wall at bench scale is job-serialization latency
    // (31 sequential jobs, executor time ≪ wall × cores), and the
    // batch-pair delta does not depend on the old-corpus labels until
    // the final CC fold. The delta frame (lazy — stats come from the
    // train-once memo) is cached and materialized side by side with
    // nearDupClusters' own actions; Spark's scheduler runs the two job
    // chains concurrently (FIFO back-fill). Results are unchanged —
    // same frames, same fold.
    val newPairs = operators.OpCache.cache(
      Dedup.ngramJaccardIncremental(old, batch,
        col("text"), col("doc_id"), statsIn = corpusStats(s, dir)))
    val existing = operators.Concurrently[Any](Seq(
      () => newPairs.count(),
      () => Dedup.nearDupClusters(old, col("text"), col("doc_id"))))(1)
      .asInstanceOf[DataFrame]
    Dedup.duplicateClustersIncremental(existing, newPairs)
  }

  /** The 20 most repeated 8-token spans corpus-wide — what IS the
    * boilerplate substring dedup would carve. */
  def topSpansQ(s: SparkSession, dir: String): DataFrame =
    Dedup.topSpans(t(s, dir, "documents"), col("text"), col("doc_id"))

  /** Keep-best dedup over the same cluster graph: each near-dup
    * family survives through its LONGEST member (ties: lowest id) —
    * the quality-aware alternative to keep-min-id. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.dedupKeepBestClusters(docs, col("doc_id"), length(col("text")),
        Dedup.nearDupClusters(docs, col("text"), col("doc_id")))
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
  }

  /** Embedding cosine near-dup pairs (threshold tuned to testdata's
    * similarity range — no planted dups above 0.52). */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineDupPairs(t(s, dir, "embeddings"),
      col("vec_id"), col("embedding"), threshold = 0.4)

  /** Incremental embedding near-dup ([[operators.Similarity
    * .cosineDupPairsIncremental]]): only pairs touching the %20
    * "re-embedded" batch are scored, and the oracle is the FULL pair
    * set restricted to batch-touching rows — the hash match proves
    * incremental ≡ full, like the jaccard (#68) and cluster (#191)
    * family members. */
  def dedupEmbeddingIncremental(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.cosineDupPairsIncremental(
      e.filter(col("vec_id") % 20 =!= 0), e.filter(col("vec_id") % 20 === 0),
      col("vec_id"), col("embedding"), threshold = 0.4)
  }

  /** Cross-frame embedding near-dup (fuzzy decontamination shape):
    * full corpus vs the vec_id%20 "benchmark" subset, exact cosine,
    * broadcast bench side. */
  def simCross(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.cosineCrossPairs(
      e, col("vec_id"), col("embedding"),
      e.filter(col("vec_id") % 20 === 0), col("vec_id"), col("embedding"),
      threshold = 0.4)
  }

  /** The SCALE path of [[simCross]]: both sides LSH-bucketed with the
    * same deterministic hyperplanes, candidates from the (table,
    * bucket) equi-join, exact rescoring — what a 100 TB run executes
    * when the benchmark side outgrows broadcast. Full DuckDB oracle
    * (the planes are SQL literals, like sim_lsh). */
  def simCrossLsh(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.lshCrossPairs(
      e, col("vec_id"), col("embedding"),
      e.filter(col("vec_id") % 20 === 0), col("vec_id"), col("embedding"),
      threshold = 0.4)
  }

  /** Above this many estimated corpus rows, [[simTopK]] caps its QUERY
    * side to a deterministic hash sample of about this many ids. */
  val SimTopKMaxQueries = 4096L

  /** Brute-force cosine top-k ANN — the exact baseline the recall
    * probe measures against. QUADRATIC by construction, so past
    * [[SimTopKMaxQueries]] estimated rows (footer-exact at test
    * scales — Scale.estimatedRows) the QUERY side caps to a
    * deterministic hash-sampled ~4096 ids: work becomes O(s·n),
    * spill-free at any corpus size (r6 planaudit: 5.3 GB spill at
    * sf1 uncapped), and each sampled query still gets its EXACT
    * top-k — precisely the ground-truth role a quadratic baseline
    * exists for. Every driver verify SF sits far below the cap, so
    * the full-set DuckDB oracle is unchanged; SURVEY §6 carries the
    * capped-regime evidence. */
  def simTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val est = Scale.estimatedRows(e)
    val q =
      if (est > SimTopKMaxQueries) {
        val mod = math.max(1L, math.round(est / SimTopKMaxQueries.toDouble))
        e.filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
      } else e
    Similarity.bruteForceTopK(q, e, col("vec_id"), col("embedding"), k = 10)
  }

  /** LSH-bucketed ANN top-k (the scale path; recall measured in spec). */
  def simLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(t(s, dir, "embeddings"), col("vec_id"), col("embedding"), k = 10)

  /** The occupancy-sized LSH path (`bits = 0` → [[Similarity.autoBits]]
    * from parquet footers): candidate volume stays LINEAR in corpus
    * size instead of quadratic-per-bucket. Full oracle: autoBits is
    * integer ceil-log2, so the DuckDB side re-derives bits from
    * count(*) and filters a pinned 20-bit plane table — the sizing
    * itself is part of what's cross-checked. Recall stays spec-gated
    * (SimilaritySpec). */
  def simLshAuto(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(t(s, dir, "embeddings"), col("vec_id"), col("embedding"),
      k = 10, bits = 0)

  /** Deterministic pinned codebook for the catalog's IVF query: the
    * 32 lowest-id embeddings, unit-normalized with the SAME
    * inv-multiply arithmetic [[graft.functions.VectorExprs.NearestCentroids]]
    * uses at assignment time — so the DuckDB oracle can rebuild the
    * identical codebook from the parquet and the whole serve path is
    * cross-engine-exact. Bounded driver collect (32 rows). */
  private def ivfAnchorCodebook(e: DataFrame, n: Int = 32): Array[Array[Double]] =
    e.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
      .orderBy(col("id")).limit(n)
      .collect().map { r =>
        val v = r.getSeq[Double](1).toArray
        var sq = 0.0; var j = 0
        while (j < v.length) { sq += v(j) * v(j); j += 1 }
        if (sq > 0) { val inv = 1.0 / math.sqrt(sq); j = 0
          while (j < v.length) { v(j) *= inv; j += 1 } }
        v
      }

  /** IVF-Flat ANN top-k, serving from a PINNED codebook — the
    * cluster-scale production shape (train the codebook once with
    * [[graft.operators.Similarity.trainKmeans]], persist it, serve
    * every query as pure assignment + probe + rescore with zero
    * training cost). The pinned codebook here is data-derived and
    * deterministic, which gives the serve path a full DuckDB oracle;
    * the trained-kmeans path is covered by the recall spec. */
  def simIvf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.ivfTopK(e, col("vec_id"), col("embedding"), k = 10,
      nprobe = 4, centroidsIn = Some(ivfAnchorCodebook(e)))
  }

  /** CROSS-frame IVF search — a query batch (every 20th vector)
    * against the full corpus through the pinned-codebook serve path:
    * the production lookup shape ([[operators.Similarity.ivfSearch]]).
    * Self-matches kept (each query ranks itself at cos 1.0 — the
    * membership signal). Same full oracle construction as `sim_ivf`
    * with the query-side filter and no self-exclusion. */
  def simSearch(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.ivfSearch(e.filter(col("vec_id") % 20 === 0), e,
      col("vec_id"), col("embedding"), k = 10, nprobe = 4,
      centroidsIn = Some(ivfAnchorCodebook(e)))
  }

  /** FILTERED ANN ([[operators.Similarity.ivfSearchWhere]]): the %20
    * query batch against ONLY the vec_id%3==1 corpus slice —
    * PRE-filter semantics (the predicate prunes before assignment and
    * distance compute, so the result is exactly the restricted-corpus
    * search; no overfetch tuning, no short result sets under
    * selective filters). Codebook stays the corpus-trained anchor
    * set, as a served index's would. */
  def simFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.ivfSearchWhere(e.filter(col("vec_id") % 20 === 0), e,
      col("vec_id"), col("embedding"), col("vec_id") % 3 === 1,
      k = 10, nprobe = 4, centroidsIn = Some(ivfAnchorCodebook(e)))
  }

  /** IVF-Flat ANN serving FROM the persisted INT8 STORE — the
    * composition of `emb_quantize` (#143, the 4×-smaller storage) with
    * the pinned-codebook IVF serve path (#34b): the store is written
    * once per input dir ([[graft.operators.Similarity.quantizeInt8]],
    * array<tinyint> + per-vector scale), and the timed query LOADS
    * int8, reconstructs q·q_scale at scan time (exact IEEE multiply),
    * and runs assignment + 4-cell probe + cosine rescoring entirely on
    * reconstructed vectors. The oracle replays quantization,
    * reconstruction, and the whole serve path bit-for-bit (round/clamp
    * arithmetic shared with emb_quantize's oracle); recall vs the fp32
    * path is measured in RECALL.md. Null embeddings don't enter a
    * store (filtered at quantization — a store row without a vector
    * means nothing). */
  def simIvfInt8(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val store = fixture("int8Store", dir) {
      val p = scratch("int8_store", dir)
      Similarity.quantizeInt8(e.filter(col("embedding").isNotNull),
          "vec_id", "embedding")
        .write.mode("overwrite").parquet(p)
      p
    }
    val recon = s.read.parquet(store).select(col("vec_id"),
      transform(col("q").cast("array<double>"),
        x => x * col("q_scale")).as("embedding"))
    Similarity.ivfTopK(recon, col("vec_id"), col("embedding"), k = 10,
      nprobe = 4, centroidsIn = Some(ivfAnchorCodebook(e)))
  }

  /** VERSIONED VECTOR INDEX — the IVF index AS a snapshot table
    * ([[operators.Similarity.ivfIndexCreate]]): vectors live in
    * cell-partitioned, manifest-committed storage. The build-once
    * memo commits v1 = the full corpus, v2 = an embedding REFRESH
    * (every vec_id%17==3 re-embedded to its negated vector — which
    * moves it to a different cell, exercising the partition move —
    * and every %19==4 retired). The catalog query serves the %20
    * query batch from the LATEST index: probe cells resolve to a
    * manifest-pruned read (only the probed cells' files are opened),
    * stored norms rescore, the bounded heap ranks. The oracle replays
    * corpus-after-refresh assignment + probe + rescore relationally,
    * so hash equality proves (a) the merge maintained the index
    * exactly and (b) partition-pruned serving never changes
    * semantics. SimilaritySpec adds the time-travel and
    * pruning-bound assertions a SQL oracle cannot express. */
  private def vecIndexPath(s: SparkSession, dir: String): String =
    fixture("vecIndex", dir) {
      val p = scratch("vec_index", dir) // per-JVM root → always fresh
      val e = t(s, dir, "embeddings")
      val cb = ivfAnchorCodebook(e)
      // stored attribute: the id-parity shard — deterministic, so the
      // FILTERED serve entry replays relationally
      val shard = (col("vec_id") % 2).cast("string").as("shard")
      Similarity.ivfIndexCreate(s, p, e, col("vec_id"), col("embedding"), cb,
        attrs = Seq(shard))
      val ups = e
        .filter(col("vec_id") % 17 === 3 && col("vec_id") % 19 =!= 4 &&
          col("embedding").isNotNull)
        .select(col("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
      Similarity.ivfIndexMerge(s, p, ups, col("vec_id"), col("embedding"), cb,
        e.filter(col("vec_id") % 19 === 4).select(col("vec_id")),
        attrs = Seq(shard))
      p
    }

  def simIndexSnapshot(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.ivfIndexSearch(s, vecIndexPath(s, dir),
      e.filter(col("vec_id") % 20 === 0), col("vec_id"), col("embedding"),
      k = 10, nprobe = 4, centroids = ivfAnchorCodebook(e))
  }

  /** FILTERED serving from the versioned index tip: same %20 batch,
    * restricted to the shard='0' (even vec_id) attribute stored
    * beside the vectors — the predicate evaluates inside the
    * manifest-pruned probed-cell scan (pruning ∘ parquet pushdown ∘
    * dv mask), no side join. Pre-filter semantics: exactly the
    * restricted-corpus result. */
  def simIndexFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.ivfIndexSearch(s, vecIndexPath(s, dir),
      e.filter(col("vec_id") % 20 === 0), col("vec_id"), col("embedding"),
      k = 10, nprobe = 4, centroids = ivfAnchorCodebook(e),
      where = col("shard") === "0")
  }

  /** SemDeDup over the pinned anchor codebook (the train-once
    * production shape): same-cell cosine ≥ 0.4 drops the higher id.
    * Threshold matches [[dedupEmbedding]]'s testdata tuning. */
  def semDedupQ(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.semDedup(e, col("vec_id"), col("embedding"),
      ivfAnchorCodebook(e), threshold = 0.4)
  }

  /** CLUSTER-BALANCED corpus mix (DataComp/DCLM shaping): embeddings
    * assign to the pinned anchor codebook's nearest cells, each cell
    * capped at 12 documents by the deterministic md5 order — latent-
    * topic rebalancing, the embedding-space analog of the per-source
    * cap. The oracle replays assignment (same pinned centroids, same
    * lowest-index tie-break) and the cap relationally. */
  def mixClustersQ(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Sampling.clusterBalancedCap(e, col("vec_id"), col("embedding"),
      ivfAnchorCodebook(e), maxN = 12)
  }

  /** Duplicate 5-gram coverage per document — the substring-level
    * dedup diagnostic (fraction of n-gram instances repeated in ≥ 2
    * docs). */
  def dupNgramCoverageQ(s: SparkSession, dir: String): DataFrame =
    Dedup.dupNgramCoverage(t(s, dir, "documents"), col("text"), col("doc_id"))

  /** Lexical familiarity: mean token document-frequency + OOV rate
    * per document vs the corpus' own vocabulary. */
  def textFamiliarityQ(s: SparkSession, dir: String): DataFrame =
    Chunking.lexicalFamiliarity(t(s, dir, "documents"), col("text"), col("doc_id"))

  /** Multimodal: documents → media records → metadata-only summary. */
  def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.multimodalMeta(s, dir)

  /** Multimodal RESIZE through the per-partition codec seam: image
    * records re-encode at 64×48 with metadata (dims, byte count,
    * fingerprint) recomputed where the payload mutates; audio/video
    * pass through untouched. The deterministic [[operators.Multimodal
    * .FakeCodec]] (the synthetic payloads are text, not decodable
    * images) makes the whole batch-resize plumbing — mapPartitions
    * batching, metadata maintenance, kind routing — replayable in SQL;
    * MultimodalSpec covers the REAL javax.imageio codec on PNG/JPEG
    * fixtures. */
  def multimodalResize(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
    Multimodal.resizeImages(media, 64, 48, codec = Multimodal.FakeCodec)
      .toDF()
      .select(col("mediaId").as("media_id"), col("kind"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.nBytes").as("n_bytes"), col("meta.fp").as("fp"))
  }

  /** Multimodal FRAME SAMPLING: every video record fans out to
    * ⌈duration/1s⌉ frame rows executor-side (one iterator, no shuffle,
    * no driver loop) with contiguous payload chunks. The oracle
    * replays the fan-out arithmetic — frame count, timestamps and
    * per-frame byte counts — relationally, so the chunking math is
    * hash-gated; the payload bytes themselves ride the (mediaId,
    * frameIdx)-determined slices the spec checks. */
  def multimodalFrames(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
    Multimodal.sampleFrames(media, intervalMs = 1000L).toDF()
      .select(col("mediaId").as("media_id"),
        col("frameIdx").as("frame_idx"), col("tsMs").as("ts_ms"),
        length(col("bytes")).cast("long").as("n_bytes"))
  }

  /** Multimodal AUDIO through the REAL javax.sound codec end-to-end:
    * each document deterministically ENCODES a constant-amplitude
    * mono WAV (amplitude ((doc_id%9)+1)/10, ((n_chars%100)+2)·8
    * samples at 8 kHz — executor-side, one iterator per partition),
    * then DECODES it back: container metadata via
    * [[operators.Multimodal.WavCodec.audioMeta]] and windowed-RMS
    * features via the decode path. A constant signal's per-window RMS
    * is its (16-bit-quantized) amplitude and the duration is
    * samples/8 ms exactly, so the WHOLE encode→decode→feature loop is
    * replayable in SQL: `rms_q = round(rms·32768)` must equal
    * `round(amp·32767)` bit-for-bit, first and last window alike. */
  def multimodalAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // every 5th document: the entry gates the REAL encode→decode loop;
    // per-blob cost is the open count, not the bytes (r10: the SPI
    // provider lists are cached per JVM and the WAV reader ordered
    // first, so an open is ~µs — ×1→×100 docs probe exponent 0.11,
    // was 1.12 under per-call registry scans); 1-in-5 keeps the
    // oracle meaningful at 1/5 the open count
    t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      .filter(col("doc_id") % 5 === 0)
      .as[(Long, Long)].mapPartitions(_.map { case (id, nc) =>
        val samples = (((nc % 100) + 2) * 8).toInt
        val amp = ((id % 9) + 1) / 10.0f
        val wav = operators.Multimodal.WavCodec.encodeWav(
          Array.fill(samples)(amp), 8000)
        val (fmt, rate, ch, durMs) =
          operators.Multimodal.WavCodec.audioMeta(wav).get
        val f = operators.Multimodal.WavCodec.decodeFeatures(wav, 4)
        (id, fmt, rate, ch, durMs,
          math.round(f(0) * 32768), math.round(f(3) * 32768))
      }).toDF("doc_id", "fmt", "sample_rate", "channels", "duration_ms",
        "rms_q_first", "rms_q_last")
  }

  /** MULTIMODAL VIDEO with a REAL codec — the last Fake media kind
    * closed (MJPEG-in-AVI; H.264 etc. remain a documented JDK
    * boundary): each selected document deterministically RENDERS
    * solid-gray JPEG frames (level ((doc_id+i)%8)·32, frame count
    * (n_chars%5)+2, 48×32 @ 4 fps), ENCODES a real MJPEG AVI through
    * [[operators.Multimodal.AviCodec.encodeAvi]], then DECODES it
    * back: container metadata from the RIFF header walk and per-frame
    * mean luma through the shipped JPEG decoder. A solid frame's
    * decoded luma is its encoded level ± the JPEG DC-quantization
    * error (≪ half the 32-level grid step), so the whole
    * render→encode→decode loop replays EXACTLY in SQL:
    * `luma_q = round(luma·255/32)` must equal `(doc_id+i) % 8`
    * bit-for-bit, first and last frame alike, and duration is
    * `n_frames·250 ms` from the header. */
  def multimodalVideo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // every 7th document: one AVI is nFrames JPEG encodes + decodes
    // (~100 µs each at 48×32); 1-in-7 keeps the real-loop oracle
    // meaningful at a bounded share of the gate's wall
    t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      .filter(col("doc_id") % 7 === 0)
      .as[(Long, Long)].mapPartitions(_.map { case (id, nc) =>
        val M = operators.Multimodal
        val nFrames = ((nc % 5) + 2).toInt
        val frames = (0 until nFrames).map { i =>
          val v = (((id + i) % 8) * 32).toInt
          val img = new java.awt.image.BufferedImage(
            48, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val gfx = img.createGraphics()
          try { gfx.setColor(new java.awt.Color(v, v, v)); gfx.fillRect(0, 0, 48, 32) }
          finally gfx.dispose()
          M.AviCodec.encodeJpeg(img)
        }
        val avi = M.AviCodec.encodeAvi(frames, 48, 32, fps = 4)
        val (fmt, w, h, nf, durMs) = M.AviCodec.videoMeta(avi).get
        val decoded = M.AviCodec.tryParse(avi).get.frames
        // each decoded MJPEG chunk is a complete JPEG — mean luma via
        // the public image-codec path (1 grid cell = whole frame)
        def q(frame: Array[Byte]): Long = math.round(
          M.ImageIoCodec.decodeFeatures(frame, 1)(0) * 255.0 / 32.0)
        (id, fmt, w, h, nf, durMs, q(decoded.head), q(decoded.last))
      }).toDF("doc_id", "fmt", "width", "height", "n_frames", "duration_ms",
        "luma_q_first", "luma_q_last")
  }

  /** Token counting: whitespace + BPE-ish regex counts. */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysisCols.wsTokenCount(col("text")).as("n_ws_tokens"),
      TextAnalysisCols.bpeTokenCount(col("text")).as("n_bpe_tokens"),
      length(col("text")).as("n_chars_len"))

  /** Quality scoring from length/punct/stopword ratios. */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id") +: TextAnalysisCols.qualityFeatures(col("text")): _*)

  /** BPE encoding end-to-end: every document tokenized scan-side
    * against the pinned 50-merge table ([[BpePinnedMerges]]) riding
    * along as a plan literal — zero shuffle at any corpus size. Full
    * oracle: DuckDB replays the same merges in rank order. */
  def bpeTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    docs.select(col("doc_id"),
      size(operators.Bpe.encode(col("text"), BpePinnedMerges)).as("n_subwords"))
  }

  /** PINNED 50-merge BPE table for the `bpe_tokens` catalog query —
    * the `sim_ivf` pinned-codebook pattern applied to tokenization:
    * train once (BpeSpec checks that the trainer reproduces this
    * literal from the sf0.01 documents table), then serve the table
    * as a plan literal so both engines tokenize identically. The DuckDB oracle
    * replays these merges in rank order over sentinel-wrapped symbol
    * strings — valid because rank-priority encoding
    * ([[graft.functions.BpeExprs.BpeEncodeExpr]]) equals sequential
    * rank-order replay: a merge only creates adjacencies involving
    * its OWN output symbol, whose merges all rank later by
    * construction, so no lower-rank pair ever re-forms. Training at
    * other corpus sizes stays covered by BpeSpec (driver and
    * distributed trainers). */
  val BpePinnedMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"), ("f", "i"), ("fi", "l"), ("fil", "t"),
    ("filt", "er"), ("a", "l"), ("al", "l"), ("m", "all"),
    ("s", "mall"), ("g", "e"), ("l", "ow"), ("mer", "ge"),
    ("s", "low"), ("c", "t"), ("ct", "or"), ("d", "er"),
    ("e", "ctor"), ("or", "der"), ("v", "ector"), ("in", "e"),
    ("l", "ine"))

  /** CCNet-shaped LM quality scoring: bigram model trained on the
    * corpus itself (minCount=2), every document scored by
    * bits-per-token under add-α smoothing. */
  def lmPerplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val uni = operators.LanguageModel.unigramCounts(docs, col("text"))
    val big = operators.LanguageModel.bigramCounts(docs, col("text"), minCount = 2L)
    operators.LanguageModel.perplexity(docs, col("doc_id"), col("text"), uni, big)
      .withColumnRenamed("id", "doc_id")
  }

  /** Exact substring dedup (Lee et al. '21): every repeated 8-token
    * span removed corpus-wide except its canonical first occurrence;
    * rebuild is scan-side (the corpus text never shuffles). */
  def dedupSubstrings(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.dedupSubstrings(t(s, dir, "documents"),
      col("text"), col("doc_id"), w = 8)

  /** Multi-pass blocked fuzzy join: prefix-16 pass (sees typos in the
    * last 2 chars) ∪ suffix-4 pass (sees typos anywhere before) —
    * together, FULL recall for single-substitution pairs on 18-char
    * names, where either pass alone is blind to the other's region.
    * The standard multi-pass/canopy blocking construction. */
  def fuzzyNamesMulti(s: SparkSession, dir: String): DataFrame =
    operators.Fuzzy.multiPassFuzzyPairs(t(s, dir, "customer"),
        col("c_custkey"), col("c_name"),
        blocks = Seq(k => substring(k, 1, 16), k => substring(k, -4, 4)),
        maxDist = 1)
      .select("id_a", "id_b", "dist")

  /** Per-group length-weighted sample: 8 docs per source, longer
    * docs proportionally more likely, seed-reproducible. */
  def sampleWeightedGroup(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedSamplePerGroup(
      t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
      col("source"), col("doc_id"), col("n_chars"),
      nPerGroup = 8, seed = "wsg")

  /** Char-entropy quality signal: one scan-side native pass
    * ([[graft.functions.TextFeatures.CharEntropyExpr]]). */
  def textEntropy(s: SparkSession, dir: String): DataFrame = {
    val e = graft.functions.TextFeatures.entropyStruct(col("text"))
    t(s, dir, "documents").select(col("doc_id"),
      e.getField("n_codepoints").as("n_codepoints"),
      e.getField("n_distinct_chars").as("n_distinct_chars"),
      e.getField("char_entropy").as("char_entropy"),
      e.getField("entropy_ratio").as("entropy_ratio"))
  }

  /** Stopword-profile language ID. */
  def textLangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysisCols.langId(col("text")).as("lang_pred"))

  /** Repetition ratio: repeated-token fraction (1 - distinct/total),
    * the standard boilerplate/spam signal. */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysisCols.wsTokens(lower(col("text")))
    val n = size(toks)
    val nd = size(array_distinct(toks))
    t(s, dir, "documents").select(
      col("doc_id"),
      n.cast("long").as("n_tokens"),
      nd.cast("long").as("n_distinct_tokens"),
      when(n === 0, lit(0.0))
        .otherwise(lit(1.0) - nd.cast("double") / n).as("repetition_ratio"))
  }

  /** Deterministic train/val/test split sizes (hash-stable — a doc
    * never migrates between splits across runs or engines). */
  def splitAssign(s: SparkSession, dir: String): DataFrame =
    Sampling.hashSplit(t(s, dir, "documents"), col("doc_id"))
      .groupBy("split").agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))

  /** Deterministic stratified sampling: rebalance by predicted
    * language (downsample the dominant strata) — pure map-side
    * hash filter, no shuffle, no RNG. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(
        t(s, dir, "documents")
          .withColumn("lang_pred", TextAnalysisCols.langId(col("text"))),
        col("lang_pred"), col("doc_id"),
        fractions = Map("en" -> 0.5, "und" -> 0.25))
      .select("doc_id", "lang_pred")

  /** Token-budget sequence packing: 2048-token sequences packed per
    * hash shard (shards pack independently — the cluster-parallel
    * formulation), summarized per sequence. */
  def packSequencesQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"),
      TextAnalysisCols.wsTokenCount(col("text")).cast("long").as("n_tokens"))
    Sampling.packSequences(d,
        shard = Sampling.hashBucket(col("doc_id")) % 8,
        id = col("doc_id"), tokens = col("n_tokens"), budget = 2048)
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
  }

  /** Benchmark decontamination: remove every doc whose normalized
    * fingerprint matches the synthetic "benchmark" subset (every 97th
    * doc) — including paraphrase-insensitive exact copies. */
  def decontaminateQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.decontaminate(docs, col("text"),
        docs.filter(col("doc_id") % 97 === 0), col("text"))
      .select("doc_id")
  }

  /** Bloom-prefiltered decontamination: result-identical to
    * [[decontaminateQ]] (same oracle), but only the might-contain
    * sliver of the corpus reaches the exact anti join. */
  def decontaminateBloomQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.decontaminateBloom(docs, col("text"),
        docs.filter(col("doc_id") % 97 === 0), col("text"))
      .select("doc_id")
  }

  /** PII redaction: documents decorated with deterministic synthetic
    * PII (email + phone + IP derived from doc_id), then scrubbed;
    * output carries the redacted text and the per-doc PII count. */
  def textRedact(s: SparkSession, dir: String): DataFrame = {
    val decorated = concat(
      col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or +1 555 010 "), col("doc_id").cast("string"),
      lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
    t(s, dir, "documents").select(
      col("doc_id"),
      graft.functions.Redaction.redactPii(decorated).as("redacted"),
      graft.functions.Redaction.piiCount(decorated).as("n_pii"))
  }

  /** Context-window chunking: 500-char windows with 100-char overlap
    * (scan-side explode, no shuffle). */
  def textChunks(s: SparkSession, dir: String): DataFrame =
    Chunking.chunk(t(s, dir, "documents"), col("text"), col("doc_id"),
      size = 500, overlap = 100)

  /** Vocabulary by document frequency (tokens in >= 3 docs). */
  def vocabDfQ(s: SparkSession, dir: String): DataFrame =
    Chunking.vocabDf(t(s, dir, "documents"), col("text"), minDf = 3)

  /** BM25 search: top-20 documents for a three-term query (rational
    * log-free idf — see [[operators.Search.bm25]]'s determinism notes). */
  def searchBm25(s: SparkSession, dir: String): DataFrame =
    Search.bm25(t(s, dir, "documents"), col("text"), col("doc_id"),
      terms = Seq("spark", "hash", "window"))

  /** SCD2 attribute history: each user's event_type runs versioned
    * with valid_from/valid_to effective ranges (consecutive
    * re-deliveries collapse — true change semantics), event_id
    * breaking timestamp ties deterministically. One shuffle of
    * (user, ts, id, type) — never the event payload. */
  def qScd2(s: SparkSession, dir: String): DataFrame =
    operators.Versioning.scd2(t(s, dir, "events"),
        col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .select(col("key").as("user_id"), col("attr").as("event_type"),
        col("valid_from"), col("valid_to"), col("is_current"), col("version"))

  /** INCREMENTAL SCD2 maintenance: build the history from the first
    * half of event time, then APPLY the second half as a batch — only
    * keys in the batch are touched, work is delta-sized. The oracle
    * is the ONE-SHOT recompute over all events (same SQL as q_scd2):
    * hash equality IS the maintenance theorem. */
  def qScd2Apply(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val r = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val (lo, hi) = (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime)
    val mid = new java.sql.Timestamp(lo + (hi - lo) / 2)
    val existing = operators.Versioning.scd2(ev.filter(col("ts") <= lit(mid)),
      col("user_id"), col("ts"), col("event_type"), col("event_id"))
    operators.Versioning.scd2Apply(existing, ev.filter(col("ts") > lit(mid)),
        col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .select(col("key").as("user_id"), col("attr").as("event_type"),
        col("valid_from"), col("valid_to"), col("is_current"), col("version"))
  }

  /** PageRank over the customer↔supplier trade graph (who-trades-
    * with-whom via orders+lineitem, undirected), 5 fixed-point power
    * iterations — integer div + long sums only, so the full rank
    * vector is bit-identical to the oracle's unrolled replay.
    * Runs the fixed-cost mode (convergeL1 = -1): the trade graph does
    * NOT hit its exact integer fixed point within 5 iterations, so
    * the oracle-safe early exit (convergeL1 = 0) was measured pure
    * overhead here — 7.2 s vs 5.7 s at sf0.1 (five no-win delta
    * actions + checkpoints). The exit exists for graphs that DO
    * converge (see GraphScd2Spec's regular-graph fixture: 5
    * iterations collapse to 1). */
  def qPageRank(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    // LONG node ids inside the iteration (customer 2k, supplier 2k+1):
    // five rounds of edge⋈rank joins + rank groupBys hash and ship the
    // node key every iteration, and long keys measure 7.4 -> 4.9 s at
    // sf0.1 / 21.1 -> 12.5 s at sf1 (shuffle 829 -> 635 MB) vs the
    // "c123"/"s45" strings. The oracle's string ids appear only in
    // the final projection — rank values are untouched (the graph is
    // isomorphic and the arithmetic integer), so the result is still
    // bit-identical to the unrolled string-keyed replay.
    val pairs = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select((col("o_custkey") * 2).cast("long").as("src"),
        (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
    val edges = pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
    operators.Graph.pageRank(edges, iterations = 5)
      .select(
        when(col("node") % 2 === 0, concat(lit("c"), expr("node div 2")))
          .otherwise(concat(lit("s"), expr("node div 2"))).as("node"),
        col("rank"))
  }

  /** DATASET-level expectations over orders (+ customer as the
    * referential target): row-count bounds, key uniqueness (one
    * passing, one deliberately failing — customers repeat), a null
    * budget, a value range and FK integrity — one report row per
    * check, all integer arithmetic (violation counts; the null budget
    * compares in basis points), so the suite is hash-exact. */
  def expectationsReport(s: SparkSession, dir: String): DataFrame = {
    import operators.Expectations._
    operators.Expectations.report(t(s, dir, "orders"), Seq(
      RowCountBetween(1L, 10000000L),
      Unique(Seq("o_orderkey")),
      Unique(Seq("o_custkey")),
      NullFraction("o_orderpriority", 0),
      InRange("o_custkey", 1L, 100000000L),
      MinPerGroup("o_orderstatus", 5),
      SubsetOf("o_custkey", t(s, dir, "customer"), "c_custkey", "customer")))
  }

  /** HYBRID SEARCH: BM25 lexical top-20 fused with the exact cosine
    * top-20 around query vector vec_id=7 by reciprocal-rank fusion
    * (k=60). Both sides reuse their oracle-proven kernels; the fusion
    * itself is integer-rational, so the whole hybrid ranking is
    * hash-exact cross-engine — the serving shape of every RAG
    * retriever (lexical ∪ vector, rank-fused, no score calibration). */
  def searchHybrid(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val lex = Search.bm25(t(s, dir, "documents"), col("text"), col("doc_id"),
      terms = Seq("spark", "hash", "window"))
    val vec = Similarity.bruteForceTopK(e.filter(col("vec_id") === 7), e,
        col("vec_id"), col("embedding"), k = 20)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    Search.rrfFuse(Seq("lex" -> lex, "vec" -> vec))
  }

  /** √-temperature corpus mixing over the (skewed) lang column: the
    * dominant language is downsampled toward √-flattened shares,
    * rare languages kept whole — deterministic hash decision. */
  def mixSqrt(s: SparkSession, dir: String): DataFrame =
    Sampling.sqrtTemperatureMix(t(s, dir, "documents"),
        col("lang"), col("doc_id"))
      .select("doc_id", "lang")

  /** Per-label embedding centroids (fixed-point accumulation). */
  def embCentroids(s: SparkSession, dir: String): DataFrame =
    Similarity.labelCentroids(t(s, dir, "embeddings"),
      col("label"), col("embedding"))

  /** Join-key skew diagnostic: 20 heaviest event user_ids with share. */
  def skewKeys(s: SparkSession, dir: String): DataFrame =
    StatsOp.keyHistogram(t(s, dir, "events"), col("user_id"), topN = 20)

  /** The APPROX twin of skew_keys — hot keys ranked by Count-Min
    * frequency ESTIMATES from one 80 KB sketch instead of exact
    * per-key counts: the shape a 100 TB hot-key probe takes when the
    * key space itself is too wide to groupBy (the sketch is the only
    * aggregate state; candidates here are the distinct keys, at scale
    * they come from the streaming sink's candidate log). PORTABLE
    * hashing (md5-prefix double hashing, pure integer row buckets)
    * makes the estimates engine-reproducible, so the DuckDB oracle
    * rebuilds the counters and must match the ESTIMATES exactly —
    * same trade as field_stats_approx's portable HLL. */
  def skewKeysApprox(s: SparkSession, dir: String): DataFrame =
    StatsOp.keyHistogramApprox(t(s, dir, "events"), col("user_id"), topN = 20)

  /** N-gram contamination scoring vs the synthetic benchmark subset
    * (doc_id % 97): fraction of each doc's distinct 8-gram shingles
    * that appear anywhere in the benchmark — the overlap metric
    * behind partial-inclusion decontamination. */
  def contaminationQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.contaminationScore(docs, col("text"), col("doc_id"),
      docs.filter(col("doc_id") % 97 === 0), col("text"), n = 8)
  }

  /** Per-source boilerplate removal over synthetically decorated docs:
    * a universal ad line, an every-other-doc promo line and a
    * per-source footer are injected, then lines repeating in ≥ 10 docs
    * of one source are stripped (the CCNet/RefinedWeb line-df filter). */
  def stripBoilerplateQ(s: SparkSession, dir: String): DataFrame = {
    val decorated = concat(
      col("text"), lit("\nAD: subscribe now!"),
      when(col("doc_id") % 2 === 0,
        concat(lit("\npromo code "), col("source"))).otherwise(lit("")),
      lit("\n(c) "), col("source"), lit(" newsletter"))
    Chunking.stripBoilerplate(
      t(s, dir, "documents").select(col("doc_id"), col("source"), decorated.as("text")),
      col("text"), col("doc_id"), col("source"), minDf = 10)
  }

  /** Corpus-wide paragraph dedup over decorated docs: a shared
    * paragraph is injected into every 3rd doc (cross-doc dup) and an
    * identical pair of lines into every 7th (intra-doc dup); only the
    * canonical first occurrence of each survives. */
  def dedupParagraphQ(s: SparkSession, dir: String): DataFrame = {
    val decorated = concat(
      col("text"),
      when(col("doc_id") % 3 === 0, lit("\na widely shared paragraph"))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit("\nrepeat me\nrepeat me"))
        .otherwise(lit("")))
    Dedup.dedupParagraphs(
      t(s, dir, "documents").select(col("doc_id"), decorated.as("text")),
      col("text"), col("doc_id"))
  }

  /** Gopher/FineWeb-style quality rule features over the corpus. */
  def textGopher(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id") +: graft.TextAnalysisCols.gopherFeatures(col("text")): _*)

  /** Gopher repetition-rule features over 4-line decorated docs (the
    * raw corpus is single-line): every other doc repeats its first
    * line, natural word repetition drives the bigram share. */
  def textGopherRep(s: SparkSession, dir: String): DataFrame = {
    val decorated = concat_ws("\n",
      substring(col("text"), 1, 50),
      substring(col("text"), 51, 50),
      when(col("doc_id") % 2 === 0, substring(col("text"), 1, 50))
        .otherwise(substring(col("text"), 101, 50)),
      substring(col("text"), 151, 30))
    t(s, dir, "documents").select(col("doc_id"), decorated.as("text"))
      .select(col("doc_id") +: graft.TextAnalysisCols.gopherRepFeatures(col("text")): _*)
  }

  /** C4-style line filtering over synthetically decorated docs: a
    * punctuation-less preview line and a too-short line drop, two
    * sentence lines survive, a javascript/cookie notice drops on
    * every 5th doc, and "lorem ipsum" / brace docs drop whole. */
  def c4CleanQ(s: SparkSession, dir: String): DataFrame = {
    val decorated = concat_ws("\n",
      substring(col("text"), 1, 40),
      concat(lit("The doc says "), substring(col("text"), 1, 20), lit(".")),
      lit("Short one."),
      lit("Is this a question?"),
      when(col("doc_id") % 5 === 0,
        lit("Please enable javascript and accept our cookie.")),
      when(col("doc_id") % 11 === 0, lit("filler lorem ipsum line")),
      when(col("doc_id") % 13 === 0, lit("code { block")))
    Chunking.c4Clean(
      t(s, dir, "documents").select(col("doc_id"), decorated.as("text")),
      col("text"), col("doc_id"))
  }

  /** Per-source document cap: at most 10 docs per source, hash order. */
  def capPerSource(s: SparkSession, dir: String): DataFrame =
    Sampling.capPerGroup(
      t(s, dir, "documents").select(col("doc_id"), col("source")),
      col("source"), col("doc_id"), maxN = 10)

  /** Per-source median-length gate: keep docs at or above their
    * source's exact 0.5-quantile of n_chars. */
  def qualityGate(s: SparkSession, dir: String): DataFrame =
    Sampling.quantileGate(
      t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
      col("source"), col("n_chars"), q = 0.5)

  /** Epoch upsampling with a deterministic 0–3 weight (zero drops). */
  def upsampleEpochsQ(s: SparkSession, dir: String): DataFrame =
    Sampling.upsampleEpochs(
      t(s, dir, "documents").select(col("doc_id")),
      col("doc_id") % 4)

  /** Seeded global training order over the corpus. */
  def shuffleOrder(s: SparkSession, dir: String): DataFrame =
    Sampling.globalOrder(
      t(s, dir, "documents").select(col("doc_id")),
      col("doc_id"), seed = "s42")

  /** Exactly 100 docs, deterministic seeded sample. */
  def sampleExactN(s: SparkSession, dir: String): DataFrame =
    Sampling.takeExactly(
      t(s, dir, "documents").select(col("doc_id"), col("source")),
      col("doc_id"), n = 100L, seed = "sampleN")

  /** Length-weighted A-ES sample: long documents proportionally more
    * likely, exactly 120 rows, seed-reproducible. */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedSample(
      t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
      col("doc_id"), col("n_chars"), n = 120L, seed = "wsample")

  /** Sentence chunking over decorated docs (boundaries injected — the
    * raw corpus has no punctuation). */
  def textSentences(s: SparkSession, dir: String): DataFrame = {
    val decorated = concat(
      substring(col("text"), 1, 30), lit(". "),
      substring(col("text"), 31, 30), lit("! "),
      substring(col("text"), 61, 30), lit("? "),
      substring(col("text"), 91, 20))
    Chunking.sentences(
      t(s, dir, "documents").select(col("doc_id"), decorated.as("text")),
      col("text"), col("doc_id"))
  }

  /** CCNet-style normalization over decorated text (tabs, control
    * chars, mixed case, punctuation runs injected). */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val messy = concat(lit("  MIXED Case!!\t"), col("text"),
      lit("  trailing,,  punct... \n"))
    t(s, dir, "documents").select(col("doc_id"),
      graft.TextAnalysisCols.normalizeText(messy).as("text_norm"),
      graft.TextAnalysisCols.normalizeText(messy, stripPunct = true)
        .as("text_norm_nopunct"))
  }

  /** FINEWEB-SHAPED PIPELINE (v3): boilerplate strip → per-source
    * length-median gate → exact dedup on cleaned text → per-source
    * cap → hash split → seeded global order, one composed plan. The
    * whole chain stays declarative, so Catalyst prunes and reorders
    * across stage boundaries exactly as it would for hand-fused code. */
  /** Composed pipeline v4 — the round-5 quality stack in ONE plan:
    * char-entropy gate (drop degenerate text) → corpus-LM perplexity
    * gate (drop LM-implausible text, model trained on the full corpus
    * inside the same plan) → length-weighted A-ES sample of 100.
    * Scale shape: both gates are scan-side or map-reduced, the LM
    * model join is AQE-broadcastable, the sample is a per-partition
    * heap. Output: (doc_id, source, n_chars, char_entropy, ppl). */
  def pipelineDocsV4(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val e = graft.functions.TextFeatures.entropyStruct(col("text"))
    val gated = docs.select(col("doc_id"), col("source"), col("n_chars"),
        col("text"),
        e.getField("char_entropy").as("char_entropy"),
        e.getField("entropy_ratio").as("entropy_ratio"))
      .filter(col("entropy_ratio") >= 0.87)
    val uni = operators.LanguageModel.unigramCounts(docs, col("text"))
    val big = operators.LanguageModel.bigramCounts(docs, col("text"), minCount = 2L)
    val scored = operators.LanguageModel.perplexity(
        gated, col("doc_id"), col("text"), uni, big)
      .select(col("id").as("doc_id"), col("ppl"))
    val kept = gated.join(scored, Seq("doc_id"))
      .filter(col("ppl") <= 31.0)
      .select("doc_id", "source", "n_chars", "char_entropy", "ppl")
    Sampling.weightedSample(kept, col("doc_id"), col("n_chars"),
      n = 100L, seed = "v4")
  }

  def pipelineDocsV3(s: SparkSession, dir: String): DataFrame = {
    val decorated = concat(
      col("text"), lit("\nAD: subscribe now!"),
      when(col("doc_id") % 2 === 0,
        concat(lit("\npromo code "), col("source"))).otherwise(lit("")),
      lit("\n(c) "), col("source"), lit(" newsletter"))
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), decorated.as("text"))
    val stripped = Chunking.stripBoilerplate(base, col("text"), col("doc_id"),
        col("source"), minDf = 10)
      .withColumn("len_clean", length(col("text_clean")).cast("long"))
    val gated = Sampling.quantileGate(stripped, col("source"), col("len_clean"), q = 0.5)
    val deduped = gated.join(
      Dedup.exact(gated, col("text_clean"), col("doc_id")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val capped = Sampling.capPerGroup(deduped, col("source"), col("doc_id"), maxN = 15)
    val assigned = Sampling.hashSplit(capped, col("doc_id"))
    Sampling.globalOrder(assigned, col("doc_id"), seed = "v3")
      .select(col("doc_id"), col("source"), col("len_clean"), col("grp_rank"),
        col("split"), col("order_id"))
  }

  /** Tukey-fence outliers of event value within each event type. */
  def iqrOutliersQ(s: SparkSession, dir: String): DataFrame =
    StatsOp.iqrOutliers(
      t(s, dir, "events").select(col("event_id"), col("event_type"), col("value")),
      col("event_type"), col("value"))

  /** Exact-duplicate mass per source (every 4th doc shares a per-source
    * template so the diagnostic has signal). */
  def dupRateBySource(s: SparkSession, dir: String): DataFrame =
    StatsOp.dupRateByGroup(
      t(s, dir, "documents").select(col("source"),
        when(col("doc_id") % 4 === 0, concat(lit("tmpl-"), col("source")))
          .otherwise(col("text")).as("c")),
      col("source"), col("c"))

  /** Per-source 3000-char token budget: hash-order prefix per source. */
  def tokenBudgetQ(s: SparkSession, dir: String): DataFrame =
    Sampling.tokenBudgetPerGroup(
      t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
      col("source"), col("doc_id"), col("n_chars"), budget = 3000L)

  /** Equi-width histogram of event values: 25 buckets over [0, 500). */
  def eventHistogram(s: SparkSession, dir: String): DataFrame =
    StatsOp.numericHistogram(t(s, dir, "events"), col("value"),
      lo = 0.0, hi = 500.0, buckets = 25)

  /** Fingerprints: exact md5 + normalized (sorted-token) md5. */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      md5(col("text")).as("fp_exact"),
      TextAnalysisCols.normFingerprint(col("text")).as("fp_norm"))

  /** Range join: events landing inside 3-day per-customer promo
    * windows (deterministically derived from orders — the orders
    * table's own dates predate the event stream by decades), one
    * window per order, aggregated per window. Bucketed equi-join
    * (1-day buckets), not a nested loop. */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events").select("event_id", "user_id", "ts", "value")
    val windows = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        (lit("2024-01-01").cast("timestamp") +
          make_interval(lit(0), lit(0), lit(0),
            (col("o_orderkey") % 28).cast("int"))).as("start_ts"))
      .withColumn("end_ts", col("start_ts") + expr("INTERVAL 3 DAYS"))
    RangeJoin.intervalJoin(events, windows,
        leftTs = "ts", rightStart = "start_ts", rightEnd = "end_ts",
        leftKeys = Seq("user_id"), rightKeys = Seq("o_custkey"),
        bucketSeconds = 24 * 3600)
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
  }

  /** As-of join: every event enriched with the user's most recent
    * order at or before the event time (orders deduped to one per
    * (custkey, date) for determinism). */
  def qAsofOrder(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val orders = t(s, dir, "orders")
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    val events = t(s, dir, "events").select("event_id", "user_id", "ts")
    AsOf.join(events, orders,
        leftTs = "ts", rightTs = "o_orderdate",
        leftKeys = Seq("user_id"), rightKeys = Seq("o_custkey"),
        rightCols = Seq("o_orderkey", "o_totalprice"))
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")
  }

  /**
   * Flagship composed pipeline: LLM training-data prep over the
   * documents table — language filter → quality filter → exact dedup
   * (keep min id) → n-gram near-dup removal (drop the higher id of
   * each pair). Every stage is one of the catalog operators; the whole
   * thing is ONE Catalyst plan with a full DuckDB oracle.
   */
  def pipelineDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scored = docs.select(
      (col("doc_id") +: TextAnalysisCols.qualityFeatures(col("text"))) :+
        TextAnalysisCols.langId(col("text")).as("lang_pred") :+ col("text"): _*)
    val filtered = scored
      .filter(col("lang_pred") === "en" && col("quality_score") >= 0.51)
    // exact dedup keep-min-id as a window: ONE shuffle, keyed by the
    // 128-bit content fingerprint (32-byte key) instead of the raw
    // document. Both downstream consumers (the near-dup signature
    // path and the final anti join) hang off the SAME exchange, so
    // Spark's ReusedExchange pays the scoring scan and the shuffle
    // once — measured faster than either an OpCache materialization
    // (cache write+read tax) or a drop-list anti join (two scans of
    // the scoring subtree). md5 collisions (2⁻¹²⁸-scale) are the
    // accepted equivalence.
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val kept = filtered.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    // near-dup removal: drop doc_b of every jaccard>=0.8 pair
    val drop = Dedup.ngramJaccard(kept, col("text"), col("doc_id"),
        statsIn = corpusStats(s, dir))
      .select(col("doc_b").as("doc_id")).distinct()
    kept.join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang_pred"), col("quality_score"),
        col("n_tokens").cast("long").as("n_tokens"))
  }

  /**
   * Flagship pipeline v2 — the round-3 operator set composed
   * end-to-end: language + quality filter → exact dedup (md5 window)
   * → near-dup CLUSTER dedup (connected components; keep only each
   * component's min-id canonical — stricter than pairwise drop on
   * asymmetric chains) → hash train/val/test split → token-budget
   * sequence packing per split. Output: one row per packed sequence
   * (split, seq_id, n_docs, sum_tokens), full DuckDB oracle.
   */
  def pipelineDocsV2(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scored = docs.select(
      (col("doc_id") +: TextAnalysisCols.qualityFeatures(col("text"))) :+
        TextAnalysisCols.langId(col("text")).as("lang_pred") :+ col("text"): _*)
    val filtered = scored
      .filter(col("lang_pred") === "en" && col("quality_score") >= 0.51)
    // exact dedup keep-min-id as groupBy + min_by (not a window): hash
    // aggregation carries PARTIAL map-side combine, so duplicate texts
    // collapse before the exchange — at 100 TB the shuffle moves one
    // row per UNIQUE text, and no sort is paid. Cached: the deduped
    // subtree feeds BOTH the near-dup signature path and the final
    // anti join — without the cache the text-scoring pipeline runs
    // twice.
    val kept = operators.OpCache.cache(
      filtered
        .groupBy(md5(col("text")).as("__fp"))
        .agg(min_by(struct(col("doc_id"), col("text"), col("n_tokens")),
          col("doc_id")).as("__r"))
        .select(col("__r.doc_id"), col("__r.text"), col("__r.n_tokens")))
    val nonCanonical = Dedup
      .nearDupClusters(kept, col("text"), col("doc_id"))
      .filter(col("cluster_id") =!= col("doc_id"))
      .select("doc_id")
    val deduped = kept.join(nonCanonical, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
    val split = Sampling.hashSplit(deduped, col("doc_id"))
    Sampling.packSequences(split, col("split"), col("doc_id"),
        col("n_tokens"), budget = 2048)
      .groupBy(col("shard").as("split"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
  }

  /** Pinned PQ codebook for the catalog's IVF-PQ query: the 16
    * lowest-id unit vectors cut into 8 subspaces — the same
    * data-derived train-once shape as [[ivfAnchorCodebook]], so the
    * DuckDB oracle rebuilds it from the parquet exactly. */
  private def pqAnchorCodebook(e: DataFrame, m: Int = 8): Array[Array[Array[Double]]] = {
    val anchors = ivfAnchorCodebook(e, 16)
    val dsub = anchors(0).length / m
    Array.tabulate(m)(s =>
      anchors.map(a => java.util.Arrays.copyOfRange(a, s * dsub, (s + 1) * dsub)))
  }

  /** Scalar int8 quantization of the embedding store — the STORAGE
    * half of the vector pipeline (PQ answers serving): symmetric
    * per-vector scale = max|x|/127, q = round(x/scale) clamped to
    * [-127,127], a 4× smaller store (plus the 8-byte scale) with the
    * reconstruction error reported per vector. Every op is an
    * identical IEEE sequence in SQL (division, HALF_UP round,
    * multiply, max), so the oracle checks the quantization
    * arithmetic EXACTLY — max_abs_err is computed, not asserted.
    * Scan-side projection: zero shuffle at any corpus size. */
  def embQuantize(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    // null embeddings quantize to (0.0, 0.0), same as the oracle's
    // COALESCE — not to null rows the hash compare would trip on
    val withScale = e.select(col("vec_id"),
        coalesce(col("embedding").cast("array<double>"),
          array().cast("array<double>")).as("v"))
      .withColumn("q_scale",
        aggregate(transform(col("v"), x => abs(x)), lit(0.0),
          (acc, x) => greatest(acc, x)) / lit(127.0))
    withScale.select(col("vec_id"), col("q_scale"),
      aggregate(
        transform(col("v"), x =>
          abs(when(col("q_scale") === 0.0, lit(0.0))
            .otherwise(least(greatest(round(x / col("q_scale")), lit(-127.0)),
              lit(127.0))) * col("q_scale") - x)),
        lit(0.0), (acc, d) => greatest(acc, d)).as("max_abs_err"))
  }

  /** IVF-PQ ANN top-k: pinned 32-cell coarse quantizer + pinned
    * 8×16 PQ codebook, 4-cell probe, ADC scoring. */
  def simPq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.ivfPqTopK(e, col("vec_id"), col("embedding"), k = 10,
      nprobe = 4, cells = ivfAnchorCodebook(e), pq = pqAnchorCodebook(e))
  }

  /** STEADY-STATE IVF-PQ serving: codebooks persisted (saveCentroids /
    * savePqCodebook artifacts) on first touch per input dir, then
    * every query LOADS the persisted artifacts and serves — the timed
    * region contains zero training / derivation cost, exactly the
    * 100 TB production shape (train once, persist, serve forever).
    * Result-identical to [[simPq]] (same pinned codebooks), so it
    * shares the same DuckDB oracle. */
  def simPqServed(s: SparkSession, dir: String): DataFrame = {
    val (cellsPath, pqPath) = fixture("pqPath", dir) {
      val e = t(s, dir, "embeddings")
      val base = scratch("pq_codebook", dir)
      new java.io.File(base).mkdirs()
      val cp = s"$base/cells"; val pp = s"$base/pq"
      Similarity.saveCentroids(cp, ivfAnchorCodebook(e))
      Similarity.savePqCodebook(pp, pqAnchorCodebook(e))
      (cp, pp)
    }
    Similarity.ivfPqTopK(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), k = 10, nprobe = 4,
      cells = Similarity.loadCentroids(cellsPath),
      pq = Similarity.loadPqCodebook(pqPath))
  }

  /** Hashed linear quality classifier (fastText-style serving path):
    * 4096-bucket synthetic pretrained weights, integer logits. */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame =
    operators.Scoring.classifyQuality(t(s, dir, "documents"), col("text"),
        operators.Scoring.syntheticWeights(4096), bias = 3L)
      .select("doc_id", "logit", "keep")

  /** Unicode decoration snippets for the script-profile query: the
    * synthetic corpus is ASCII, so per doc_id%5 a non-Latin phrase is
    * appended to exercise every script class (index 1 = no snippet). */
  private[graft] val ScriptSnippets: Seq[String] = Seq(
    "", " Привет мир", " 你好世界 です", " مرحبا بالعالم", " γειά σου κόσμε")

  /** Per-document Unicode script profile over decorated text. */
  def textScript(s: SparkSession, dir: String): DataFrame = {
    val dec = concat(col("text"),
      element_at(typedLit(ScriptSnippets), (col("doc_id") % 5 + 1).cast("int")))
    t(s, dir, "documents").select(
      col("doc_id") +: TextAnalysisCols.scriptProfile(dec): _*)
  }

  /** Corpus version delta: documents vs a synthetic next crawl
    * (every 17th page gone, every 13th revised, every 19th spawning
    * a brand-new page). */
  def corpusDelta(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val neu = docs.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 1, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 19 === 2)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("new page "), col("doc_id").cast("string")).as("text")))
    operators.Versioning.delta(docs, neu,
      col("doc_id"), col("text"), col("doc_id"), col("text"))
  }

  /** Keyed copy-on-write MERGE (the write-side companion of
    * `corpus_delta`): seed a source-partitioned target from
    * `documents`, apply a deterministic change set — every 7th doc
    * revised (every 21st additionally MOVING to a new partition),
    * every 13th deleted — through [[operators.Merge.mergeInto]], and
    * return the merged table. Only partitions containing changed keys
    * rewrite (MergeSpec asserts untouched files byte-identical); the
    * oracle states the end state relationally, so hash equality
    * proves merge ≡ full rewrite. */
  def corpusMerge(s: SparkSession, dir: String): DataFrame = {
    val p = scratch("corpus_merge", dir)
    val docs = t(s, dir, "documents")
    docs.write.mode("overwrite").partitionBy("source").parquet(p)
    val upserts = docs
      .filter(col("doc_id") % 7 === 0 && col("doc_id") % 13 =!= 0)
      .withColumn("text", concat(col("text"), lit(" [v2]")))
      .withColumn("n_chars", col("n_chars") + 5)
      .withColumn("source",
        when(col("doc_id") % 3 === 0, lit("src_new")).otherwise(col("source")))
    val deletes = docs.filter(col("doc_id") % 13 === 0).select("doc_id")
    Merge.mergeInto(s, p, upserts, deletes, "doc_id", "source")
    s.read.parquet(p).select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Incremental aggregate maintenance over `corpus_merge`'s change
    * set: bootstrap the per-source (n, sum_n_chars) table from the
    * pre-merge corpus, then apply the change as DELTA-SIZED work —
    * subtract the old versions of revised+deleted docs, add the
    * revised ones — through [[operators.IncrementalAgg.maintain]].
    * The oracle aggregates the merged END STATE one-shot, so hash
    * equality proves maintenance ≡ full recompute (decimal sums make
    * it bit-exact and order-free). The maintained table carries
    * decimal(38,6) — that is where the order-free exactness lives —
    * but the final projection casts to DOUBLE like every other
    * monetary catalog entry: char-count sums are integers ≪ 2^53, so
    * the cast is exact, and it keeps the harness's value comparison
    * off the decimal rendering path. */
  def aggMaintain(s: SparkSession, dir: String): DataFrame = {
    // Hermetic per INVOCATION: `IncrementalAgg.maintain` is a
    // non-idempotent read-modify-swap, so two evaluations of this
    // entry sharing one path — same JVM or not, however the harness
    // schedules them — would double-apply the delta (group count
    // unchanged, sums wrong). Each call therefore builds+maintains
    // into its own fresh UUID subdir; nothing is ever reused.
    val inv = java.util.UUID.randomUUID().toString.take(12)
    val p = s"${scratch("agg_maintain", dir)}_inv_$inv"
    val docs = t(s, dir, "documents")
    operators.IncrementalAgg.build(docs, Seq("source"), Seq("n_chars"))
      .write.mode("overwrite").parquet(p)
    val removed = docs.filter(col("doc_id") % 7 === 0 || col("doc_id") % 13 === 0)
    val added = docs
      .filter(col("doc_id") % 7 === 0 && col("doc_id") % 13 =!= 0)
      .withColumn("n_chars", col("n_chars") + 5)
      .withColumn("source",
        when(col("doc_id") % 3 === 0, lit("src_new")).otherwise(col("source")))
    operators.IncrementalAgg.maintain(s, p, Seq("source"), Seq("n_chars"),
      removed, added)
    s.read.parquet(p).select(col("source"), col("n"),
      col("sum_n_chars").cast("double").as("sum_n_chars"))
  }

  /** Build-ONCE versioned snapshot table for the time-travel /
    * pruned-read catalog queries (the train-once serving shape, like
    * the IVF codebook memo): v1 = create from `documents` partitioned
    * by source with per-file doc_id/n_chars stats (fileRanges=8 → the
    * range layout that makes stats pruning effective), v2 = the
    * corpus_merge change set, v3 = a second revision wave (every
    * doc_id%11==5 survivor revised ' [v3]'/+7 chars, every %23==7
    * deleted) — so the log holds three distinct states. */
  private def snapshotTablePath(s: SparkSession, dir: String): String =
    fixture("snapshot", dir) {
      val p = scratch("snapshot_tbl", dir) // per-JVM root → always fresh
      val docs = t(s, dir, "documents")
      Snapshot.create(s, p, docs, key = "doc_id", partitionCol = "source",
        statsCols = Seq("doc_id", "n_chars"), fileRanges = 8,
        bloomCols = Seq("doc_id"), bloomBits = 1 << 14,
        hllCols = Seq("doc_id"))
      val ups1 = docs
        .filter(col("doc_id") % 7 === 0 && col("doc_id") % 13 =!= 0)
        .withColumn("text", concat(col("text"), lit(" [v2]")))
        .withColumn("n_chars", col("n_chars") + 5)
        .withColumn("source",
          when(col("doc_id") % 3 === 0, lit("src_new")).otherwise(col("source")))
      Snapshot.merge(s, p, ups1, docs.filter(col("doc_id") % 13 === 0).select("doc_id"))
      val state1 = Snapshot.readAt(s, p, 2)
      val ups2 = state1
        .filter(col("doc_id") % 11 === 5 && col("doc_id") % 23 =!= 7)
        .withColumn("text", concat(col("text"), lit(" [v3]")))
        .withColumn("n_chars", col("n_chars") + 7)
      Snapshot.merge(s, p, ups2,
        state1.filter(col("doc_id") % 23 === 7).select("doc_id"))
      // v4/v5 = predicate DML on top (file-granularity copy-on-write):
      // a range delete, then a range update referencing pre-update
      // values — snapshot_dml pins v5, every other snapshot entry pins
      // its version explicitly
      Snapshot.deleteWhere(s, p, Seq(("doc_id", 150, 199)))
      Snapshot.updateWhere(s, p, Seq(("doc_id", 300, 349)),
        Map("n_chars" -> (col("n_chars") + 1000), "lang" -> lit("xx")))
      // v6/v7 = MERGE-ON-READ deletes (deletion vectors, zero data
      // files rewritten); the overlapping second range forces the
      // cumulative-union path on the shared files — snapshot_mor
      // reads the tip through the vectors
      Snapshot.deleteWhereMor(s, p, Seq(("doc_id", 400, 449)))
      Snapshot.deleteWhereMor(s, p, Seq(("doc_id", 430, 480)))
      p
    }

  /** The NON-ADDITIVE evolution commit sequence, replayed onto `p`:
    * create → rename text→body (v2, metadata-only) → drop lang (v3) →
    * merge under the mapping (v4) → widen n_small int→bigint (v5) →
    * merge that re-adds a column named `lang` (v6 — the retired
    * physical name forces a fresh physical mapping, so dropped bytes
    * can never resurrect). Shared by the `snapshot_evolution` tip
    * read and the `snapshot_evolution_compact` physical-purge
    * replay. */
  private def buildEvolutionTable(s: SparkSession, dir: String, p: String): String = {
    val base = t(s, dir, "documents")
      .withColumn("n_small", (col("n_chars") % 1000).cast("int"))
    Snapshot.create(s, p, base, key = "doc_id", partitionCol = "source")
    Snapshot.renameColumn(s, p, "text", "body")  // v2
    Snapshot.dropColumn(s, p, "lang")            // v3
    val u1 = base.filter(col("doc_id") % 9 === 0 && col("doc_id") % 17 =!= 0)
      .select(col("doc_id"), concat(col("text"), lit(" [evo]")).as("body"),
        col("source"), (col("n_chars") + 3).as("n_chars"),
        (col("n_small") + 1).as("n_small"))
    Snapshot.merge(s, p, u1,                     // v4
      base.filter(col("doc_id") % 17 === 0).select("doc_id"))
    Snapshot.widenColumn(s, p, "n_small", "bigint") // v5
    val u2 = Snapshot.readAt(s, p, 5).filter(col("doc_id") % 10 === 1)
      .select(col("doc_id"), concat(col("body"), lit(" [v4]")).as("body"),
        col("source"), col("n_chars"),
        (col("n_small") + 5000000000L).as("n_small"),
        lit("readd").as("lang"))
    Snapshot.merge(s, p, u2, base.limit(0).select("doc_id")) // v6
    p
  }

  private def snapshotEvoPath(s: SparkSession, dir: String): String =
    fixture("snapshotEvo", dir)(
      buildEvolutionTable(s, dir, scratch("snapshot_evo", dir)))

  /** NON-ADDITIVE SCHEMA EVOLUTION end state: the tip after rename /
    * drop / widen (all metadata-only — zero data files rewritten) and
    * two merges through the column mapping, one of which RE-ADDS the
    * dropped column name. The oracle replays every step relationally
    * (rename = projection alias, drop = column omission, widen =
    * cast, re-add = null except the second merge's rows), so hash
    * equality proves: old bytes serve under new logical names, mixed
    * int/bigint file vintages read as one type, and the re-added
    * column NEVER resurrects the dropped bytes. */
  def snapshotEvolution(s: SparkSession, dir: String): DataFrame =
    Snapshot.readLatest(s, snapshotEvoPath(s, dir))
      .select("doc_id", "body", "source", "n_chars", "n_small", "lang")

  /** EVOLUTION COMPACTION PURGE as a physical-identity replay (the
    * `snapshot_relayout` pattern applied to the one evolution path a
    * relational oracle can reach): the same six evolution commits,
    * then `compact(maxFilesPerPartition = 0)` — every partition
    * rewrites, materializing rows under the CURRENT column mapping
    * and physically purging the retired `lang` bytes from every data
    * file (spec-asserted in SnapshotSpec). The oracle is the
    * `snapshot_evolution` replay verbatim, so hash equality proves
    * the full-table physical rewrite changed bytes, never rows —
    * dropped-column purge included. */
  def snapshotEvolutionCompact(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotEvoCompact", dir) {
      val path = buildEvolutionTable(s, dir, scratch("snapshot_evo_compact", dir))
      Snapshot.compact(s, path, maxFilesPerPartition = 0) // v7: full purge rewrite
      path
    }
    Snapshot.readLatest(s, p)
      .select("doc_id", "body", "source", "n_chars", "n_small", "lang")
  }

  /** RELAYOUT is a pure PHYSICAL transformation: create (range layout)
    * → merge → MoR delete → `relayout` to z-order — the full rewrite
    * re-sorts every partition and materializes the deletion vectors,
    * but the logical content must be bit-identical to the relational
    * replay of create+merge+delete. The `q3_revenue_salted` pattern
    * applied to the table format: hash equality proves layout moves
    * bytes, never rows. */
  def snapshotRelayout(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotRelayout", dir) {
      val path = scratch("snapshot_relayout", dir)
      val docs = t(s, dir, "documents")
      Snapshot.create(s, path, docs, key = "doc_id", partitionCol = "source",
        statsCols = Seq("doc_id", "n_chars"), fileRanges = 8)
      Snapshot.merge(s, path,
        docs.filter(col("doc_id") % 6 === 0 && col("doc_id") % 19 =!= 0)
          .withColumn("n_chars", col("n_chars") + 11),
        docs.filter(col("doc_id") % 19 === 0).select("doc_id"))
      Snapshot.deleteWhereMor(s, path, Seq(("doc_id", 200, 260)))
      Snapshot.relayout(s, path, 8, "zorder", Seq("doc_id", "n_chars"))
      path
    }
    Snapshot.readLatest(s, p)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** The SQL TVF surface end-to-end: `graft_snapshot(path, 2)` inside
    * a plain `spark.sql` query — analysis-time manifest resolution,
    * the Catalyst plan embedded in the enclosing query — must equal
    * the DataFrame-API time travel bit-for-bit, so it rides
    * `snapshot_timetravel`'s oracle replay verbatim. */
  def snapshotSqlTvf(s: SparkSession, dir: String): DataFrame = {
    functions.GraftTableFunctions.register(s)
    val p = snapshotTablePath(s, dir)
    s.sql(s"SELECT doc_id, text, lang, source, n_chars " +
      s"FROM graft_snapshot('$p', 2)")
  }

  /** The HISTORY TVF surface: `graft_snapshot_history(path)` inside
    * plain SQL enumerates the table's commit log — version, op,
    * parent and LOGICAL row count per retained version (the physical
    * columns n_partitions/n_files are layout-dependent and stay out
    * of the oracle projection). The oracle rebuilds each version's
    * row count relationally from the known commit sequence
    * (create → merge → merge → delete → update → 2× MoR delete), so
    * hash equality proves the manifest fold reports the exact
    * logical history — MoR versions included (deletion-vector rows
    * subtracted, zero data files opened). */
  def snapshotHistoryTvf(s: SparkSession, dir: String): DataFrame = {
    functions.GraftTableFunctions.register(s)
    val p = snapshotTablePath(s, dir)
    s.sql(s"SELECT version, op, parent, n_rows " +
      s"FROM graft_snapshot_history('$p')")
  }

  /** CHANGE-FEED TVF resolved by TAG: `graft_snapshot_changes(path,
    * 'rev-2')` (the tag pins v2 — the training-run-reproducibility
    * shape, where consumers address commits by name, never number).
    * The query nets the feed per full row (+1 added / −1 removed):
    * rows a file rewrite carried unchanged cancel to zero, so the
    * surviving net IS the logical v1→v2 diff, which the oracle
    * rebuilds relationally. Hash equality proves the file-identity
    * change set is algebraically exact — the property incremental
    * consumers (agg maintenance, index MoR) depend on. */
  def snapshotChangesTag(s: SparkSession, dir: String): DataFrame = {
    functions.GraftTableFunctions.register(s)
    val p = snapshotTablePath(s, dir)
    Snapshot.tag(p, "rev-2", 2) // idempotent: re-tagging moves the ref
    s.sql(s"""SELECT doc_id, text, lang, source, n_chars,
      |  CAST(sum(CASE WHEN _change = 'added' THEN 1 ELSE -1 END) AS BIGINT) AS net
      |FROM graft_snapshot_changes('$p', 'rev-2')
      |GROUP BY doc_id, text, lang, source, n_chars
      |HAVING sum(CASE WHEN _change = 'added' THEN 1 ELSE -1 END) <> 0""".stripMargin)
  }

  /** DATASOURCE-V2 read of the snapshot table through the SESSION
    * CATALOG ([[sources.GraftDataSource]]): `CREATE TABLE … USING
    * graft OPTIONS (versionAsOf '3') LOCATION …`, then plain SQL with
    * a range WHERE — the filter pushes through the connector into
    * manifest file skipping (GraftDataSourceSpec proves the skipped
    * files are never opened) and is re-applied exactly. Same pinned
    * v3 state and predicate as `snapshot_pruned`, so hash equality
    * proves the catalog surface serves the identical frame the Scala
    * API does. */
  def snapshotDsv2(s: SparkSession, dir: String): DataFrame = {
    val p = snapshotTablePath(s, dir)
    s.sql("DROP TABLE IF EXISTS graft_dsv2_docs")
    s.sql(s"CREATE TABLE graft_dsv2_docs USING graft " +
      s"OPTIONS (versionAsOf '3') LOCATION '$p'")
    s.sql("SELECT doc_id, text, lang, source, n_chars " +
      "FROM graft_dsv2_docs WHERE doc_id BETWEEN 100 AND 299")
  }

  /** AGGREGATE PUSHDOWN through the DSv2 catalog surface: plain SQL
    * `count(*)/count/min/max/sum` over a `USING graft` table rides
    * `SupportsPushDownAggregates` into [[Snapshot.aggStats]]'s
    * manifest fold — ZERO data files opened (GraftDataSourceSpec
    * proves it by physically deleting every data file first). Same
    * pinned-v3 state and aggregate set as `snapshot_agg`, so hash
    * equality proves the SQL-reachable fast path computes the exact
    * aggregate the Scala API does. */
  def snapshotDsv2Agg(s: SparkSession, dir: String): DataFrame = {
    val p = snapshotTablePath(s, dir)
    s.sql("DROP TABLE IF EXISTS graft_dsv2_docs_agg")
    s.sql(s"CREATE TABLE graft_dsv2_docs_agg USING graft " +
      s"OPTIONS (versionAsOf '3') LOCATION '$p'")
    s.sql("SELECT count(*) AS n_rows, " +
      "count(doc_id) AS n_doc_id, min(doc_id) AS min_doc_id, " +
      "max(doc_id) AS max_doc_id, sum(doc_id) AS sum_doc_id, " +
      "count(n_chars) AS n_n_chars, min(n_chars) AS min_n_chars, " +
      "max(n_chars) AS max_n_chars, sum(n_chars) AS sum_n_chars " +
      "FROM graft_dsv2_docs_agg")
  }

  /** GROUPED aggregate pushdown: `GROUP BY <partition column>` rides
    * the same manifest fold — the per-file entries are already keyed
    * by partition value, so `SELECT source, count/min/max/sum GROUP
    * BY source` is metadata-only too (one row per partition, zero
    * data files). Oracle = the pinned-v3 replay grouped relationally. */
  def snapshotDsv2AggGroup(s: SparkSession, dir: String): DataFrame = {
    val p = snapshotTablePath(s, dir)
    s.sql("DROP TABLE IF EXISTS graft_dsv2_docs_agg_g")
    s.sql(s"CREATE TABLE graft_dsv2_docs_agg_g USING graft " +
      s"OPTIONS (versionAsOf '3') LOCATION '$p'")
    s.sql("SELECT source, count(*) AS n_rows, " +
      "count(doc_id) AS n_doc_id, min(doc_id) AS min_doc_id, " +
      "max(doc_id) AS max_doc_id, sum(n_chars) AS sum_n_chars " +
      "FROM graft_dsv2_docs_agg_g GROUP BY source")
  }

  /** PARTITION-FILTERED aggregate pushdown: a pushed equality/IN
    * WHERE on the PARTITION column restricts the manifest fold to the
    * matching partition entries — `SELECT count(*) … WHERE source IN
    * (…)`, the everyday partitioned count, stays a metadata fold
    * (zero data files; GraftDataSourceSpec proves it by deleting
    * them). Any other pushed filter declines the whole aggregation to
    * the exact scan path. Oracle = the pinned-v3 replay filtered and
    * aggregated relationally. */
  def snapshotDsv2AggWhere(s: SparkSession, dir: String): DataFrame = {
    val p = snapshotTablePath(s, dir)
    s.sql("DROP TABLE IF EXISTS graft_dsv2_docs_agg_w")
    s.sql(s"CREATE TABLE graft_dsv2_docs_agg_w USING graft " +
      s"OPTIONS (versionAsOf '3') LOCATION '$p'")
    s.sql("SELECT count(*) AS n_rows, " +
      "count(doc_id) AS n_doc_id, min(doc_id) AS min_doc_id, " +
      "max(doc_id) AS max_doc_id, sum(n_chars) AS sum_n_chars " +
      "FROM graft_dsv2_docs_agg_w WHERE source IN ('src3', 'src7')")
  }

  /** RANGE-filtered aggregate pushdown: `WHERE <partition> BETWEEN a
    * AND b` (pushed as `>=`/`<=` conjuncts) restricts the manifest
    * fold to the partition keys inside the range under the column's
    * own ordering — lexicographic here (string partition), numeric
    * via the rendered-value round-trip for integral partitions. Still
    * ZERO data-file IO; a bound the ordering cannot compare exactly
    * declines the whole aggregation to the exact scan
    * (GraftDataSourceSpec). Oracle = the pinned-v3 replay under the
    * same BETWEEN, aggregated relationally. */
  def snapshotDsv2AggRange(s: SparkSession, dir: String): DataFrame = {
    val p = snapshotTablePath(s, dir)
    s.sql("DROP TABLE IF EXISTS graft_dsv2_docs_agg_r")
    s.sql(s"CREATE TABLE graft_dsv2_docs_agg_r USING graft " +
      s"OPTIONS (versionAsOf '3') LOCATION '$p'")
    s.sql("SELECT count(*) AS n_rows, " +
      "count(doc_id) AS n_doc_id, min(doc_id) AS min_doc_id, " +
      "max(doc_id) AS max_doc_id, sum(n_chars) AS sum_n_chars " +
      "FROM graft_dsv2_docs_agg_r WHERE source BETWEEN 'src2' AND 'src5'")
  }

  /** DATASOURCE-V2 WRITE through the session catalog: `CREATE TABLE …
    * USING graft LOCATION …` then one plain-SQL `INSERT INTO …
    * SELECT` — the V1Write bridge lands the frame driver-side and
    * commits it as a [[Snapshot.merge]] (upsert on the table key,
    * under the commit lock, constraints enforced). The inserted batch
    * re-delivers every doc_id%9==4 document with revised text/chars,
    * so the oracle replays the upsert relationally: hash equality
    * proves SQL INSERT ≡ the Scala merge commit, key semantics
    * included. */
  def snapshotDsv2Write(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotDsv2Write", dir) {
      val path = scratch("snapshot_dsv2w", dir)
      val docs = t(s, dir, "documents")
      Snapshot.create(s, path, docs, key = "doc_id", partitionCol = "source")
      s.sql("DROP TABLE IF EXISTS graft_dsv2_docs_w")
      s.sql(s"CREATE TABLE graft_dsv2_docs_w USING graft LOCATION '$path'")
      docs.filter(col("doc_id") % 9 === 4)
        .withColumn("text", concat(col("text"), lit(" [ins]")))
        .withColumn("n_chars", col("n_chars") + 9)
        .createOrReplaceTempView("graft_dsv2_ins_batch")
      s.sql("INSERT INTO graft_dsv2_docs_w SELECT * FROM graft_dsv2_ins_batch")
      path
    }
    Snapshot.readLatest(s, p)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** DATASOURCE-V2 DELETE through the session catalog: plain-SQL
    * `DELETE FROM … WHERE` rides `SupportsDelete` into the
    * file-granularity predicate-DML commit ([[Snapshot.deleteWhere]]
    * — manifest pruning picks candidate files, only those rewrite,
    * one atomic version each). One range delete + one equality
    * delete; the oracle replays both relationally, so hash equality
    * proves SQL DELETE ≡ the transactional Scala DML. */
  def snapshotDsv2Delete(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotDsv2Delete", dir) {
      val path = scratch("snapshot_dsv2d", dir)
      Snapshot.create(s, path, t(s, dir, "documents"), key = "doc_id",
        partitionCol = "source", statsCols = Seq("doc_id"), fileRanges = 8)
      s.sql("DROP TABLE IF EXISTS graft_dsv2_docs_d")
      s.sql(s"CREATE TABLE graft_dsv2_docs_d USING graft LOCATION '$path'")
      s.sql("DELETE FROM graft_dsv2_docs_d WHERE doc_id >= 150 AND doc_id <= 199")
      s.sql("DELETE FROM graft_dsv2_docs_d WHERE doc_id = 301")
      path
    }
    Snapshot.readLatest(s, p)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** SQL DELETE/UPDATE with IN-LIST conditions through the connector:
    * `WHERE key IN (…)` — the erasure-batch shape — routes onto the
    * same pruned copy-on-write commits as ranges, with candidate
    * files named by the POINT-LOOKUP stack (per-file key min/max +
    * blooms, [[graft.operators.Snapshot.prune]]): an absent key in
    * the list costs no IO, and an IN AND-ed with a range intersects
    * both prunings. The oracle replays all three statements
    * relationally, so hash equality proves IN-list DML ≡ the
    * transactional Scala DML. */
  def snapshotDsv2DmlIn(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotDsv2DmlIn", dir) {
      val path = scratch("snapshot_dsv2in", dir)
      Snapshot.create(s, path, t(s, dir, "documents"), key = "doc_id",
        partitionCol = "source", statsCols = Seq("doc_id"), fileRanges = 8,
        bloomCols = Seq("doc_id"))
      s.sql("DROP TABLE IF EXISTS graft_dsv2_docs_in")
      s.sql(s"CREATE TABLE graft_dsv2_docs_in USING graft LOCATION '$path'")
      // 1234567 is absent: the bloom proves it, zero extra candidates
      s.sql("DELETE FROM graft_dsv2_docs_in " +
        "WHERE doc_id IN (11, 22, 33, 44, 1234567)")
      s.sql("UPDATE graft_dsv2_docs_in SET n_chars = n_chars + 500 " +
        "WHERE doc_id IN (55, 66, 77)")
      s.sql("UPDATE graft_dsv2_docs_in SET lang = 'zz' " +
        "WHERE doc_id IN (200, 201, 202, 203) AND doc_id BETWEEN 202 AND 900")
      path
    }
    Snapshot.readLatest(s, p)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** SQL DELETE/UPDATE with HALF-OPEN and STRICT bounds — the
    * retention-sweep shape (`DELETE WHERE ts < horizon`): one-sided
    * conditions route onto the same pruned copy-on-write commits
    * ([[graft.operators.Snapshot.BoundPred]] → the open-bounds stats
    * fold; pruning is inclusive-conservative, the re-applied strict
    * predicate keeps the result exact). The oracle replays the sweep
    * and the strict/inclusive updates relationally. */
  def snapshotDsv2DmlOpen(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotDsv2DmlOpen", dir) {
      val path = scratch("snapshot_dsv2op", dir)
      Snapshot.create(s, path, t(s, dir, "documents"), key = "doc_id",
        partitionCol = "source", statsCols = Seq("doc_id"), fileRanges = 8)
      s.sql("DROP TABLE IF EXISTS graft_dsv2_docs_op")
      s.sql(s"CREATE TABLE graft_dsv2_docs_op USING graft LOCATION '$path'")
      s.sql("DELETE FROM graft_dsv2_docs_op WHERE doc_id >= 400")
      s.sql("UPDATE graft_dsv2_docs_op SET n_chars = n_chars + 50 " +
        "WHERE doc_id < 100")
      s.sql("UPDATE graft_dsv2_docs_op SET lang = 'yy' " +
        "WHERE doc_id > 380 AND doc_id <= 390")
      path
    }
    Snapshot.readLatest(s, p)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  // one catalog tree per JVM — catalogs read their conf once at first
  // name reference, so the root must be session-stable
  private lazy val catalogRoot: String =
    java.nio.file.Files.createTempDirectory("graft_catalog_root").toString

  /** The TABLE CATALOG surface ([[sources.GraftCatalog]]): a
    * `spark.sql.catalog.*` plugin over a directory tree — namespaces
    * are directories, tables are graft commit logs, the catalog holds
    * NO state of its own. The entry drives the full NAME lifecycle:
    * CREATE NAMESPACE, an ATOMIC CTAS (v1 holds the data under one
    * commit), then a keyed UPDATE through the name — and reads the
    * result back with `spark.table("graft_cat.ns.docs")`. The oracle
    * replays the CTAS + update relationally, so hash equality proves
    * the name surface is the same transactional engine the path
    * surface is. */
  def snapshotCatalog(s: SparkSession, dir: String): DataFrame = {
    val tbl = fixture("snapshotCatalog", dir) {
      s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_cat.root", catalogRoot)
      val ns = "c" + math.abs(dir.hashCode).toString
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft_cat.$ns")
      t(s, dir, "documents").createOrReplaceTempView("graft_cat_docs_src")
      s.sql(s"CREATE TABLE graft_cat.$ns.docs USING graft " +
        "TBLPROPERTIES ('key'='doc_id','partitionCol'='source') " +
        "AS SELECT * FROM graft_cat_docs_src")
      s.sql(s"UPDATE graft_cat.$ns.docs SET n_chars = n_chars + 11 " +
        "WHERE doc_id BETWEEN 200 AND 249")
      s"graft_cat.$ns.docs"
    }
    s.table(tbl).select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Standard SQL TIME TRAVEL on the catalog table: `VERSION AS OF 1`
    * pins the pre-update CTAS state (the `TableCatalog.loadTable`
    * version overload — number or tag both resolve; the spec covers
    * tags and TIMESTAMP AS OF). The oracle is the plain documents
    * replay, so hash equality proves the pinned read serves exactly
    * the v1 commit while the tip carries the later update. */
  def snapshotCatalogAsof(s: SparkSession, dir: String): DataFrame = {
    snapshotCatalog(s, dir) // ensure the table + its v2 update exist
    val ns = "c" + math.abs(dir.hashCode).toString
    s.sql(s"SELECT doc_id, text, lang, source, n_chars " +
      s"FROM graft_cat.$ns.docs VERSION AS OF 1")
  }

  /** SQL-DECLARED TRACKING: a table created ENTIRELY through SQL —
    * CTAS with TBLPROPERTIES declaring per-file stats on a non-key
    * column, a BLOOM filter on `n_chars` (high-ish cardinality,
    * UNCORRELATED with the partition layout: per-file ranges are
    * near-full-width, so only the bloom can prove absence) and a
    * manifest HLL sketch — then a plain SQL point lookup on the
    * bloomed column. The pushed equality routes through
    * [[Snapshot.prune]]: only files whose bloom admits the value
    * are scanned. The oracle is the bare filter, so hash equality
    * proves bloom pruning is IO-only; the SQL-created table loses
    * nothing the Scala create has. */
  def snapshotSqlTracking(s: SparkSession, dir: String): DataFrame = {
    val tbl = fixture("snapshotSqlTracking", dir) {
      s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_cat.root", catalogRoot)
      val ns = "t" + math.abs(dir.hashCode).toString
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft_cat.$ns")
      t(s, dir, "documents").createOrReplaceTempView("graft_trk_docs_src")
      s.sql(s"CREATE TABLE graft_cat.$ns.docs USING graft " +
        "TBLPROPERTIES ('key'='doc_id','partitionCol'='source'," +
        "'statsCols'='lang','bloom.n_chars'='65536,6','hll.lang'='12') " +
        "AS SELECT * FROM graft_trk_docs_src")
      s"graft_cat.$ns.docs"
    }
    s.sql(s"SELECT doc_id, text, lang, source, n_chars FROM $tbl " +
      "WHERE n_chars = 500")
  }

  private val SubstringNeedles =
    Seq("vector join vector", "merge slow join", "the the")

  /** TRIGRAM SUBSTRING INDEX (r16): a documents snapshot table
    * created with the `3g:text` bloom spec — per-file filters over
    * the text's code-point 3-grams — then three `LIKE '%needle%'`
    * lookups served by [[Snapshot.read]]: a file opens
    * only if its filter admits EVERY 3-gram of the needle, so
    * substring search is priced by matching files, not corpus size
    * (the LIKE-pushdown analog of the value-bloom point lookup; at
    * some SFs one needle matches nothing and the filters prove the
    * absence without opening a single file). The oracle is the bare
    * LIKE union, so hash equality proves gram pruning is IO-only. */
  def snapshotSubstring(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotSubstring", dir) {
      val path = scratch("snapshot_substr", dir)
      Snapshot.create(s, path, t(s, dir, "documents"), key = "doc_id",
        partitionCol = "source", fileRanges = 4,
        bloomCols = Seq(Snapshot.TriPrefix + "text"))
      path
    }
    SubstringNeedles.map { nd =>
      Snapshot.read(s, p, Seq(Snapshot.ContainsPred("text", nd)))
        .select(lit(nd).as("needle"), col("doc_id"), col("n_chars"))
    }.reduce(_ unionByName _)
  }

  /** PREFIX-RANGE pruning (r16, the stats sibling of the trigram
    * substring index): a documents snapshot keyed by (source, doc_id)
    * under the range layout, so each file's `source` min/max is a
    * TIGHT span — `source LIKE 'src1%'` (src1, src10..src19) then
    * reads only the files whose span meets `[src1, src2)` under the
    * FORCED lexicographic compare (the numeric-when-parseable range
    * rule would mis-order digit prefixes). The oracle is the bare
    * LIKE, so hash equality proves prefix pruning is IO-only. */
  def snapshotPrefix(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotPrefix", dir) {
      val path = scratch("snapshot_prefix", dir)
      Snapshot.createMulti(s, path, t(s, dir, "documents"),
        keys = Seq("source", "doc_id"), partitionCols = Seq("lang"),
        fileRanges = 4)
      path
    }
    Snapshot.read(s, p, Seq(Snapshot.PrefixPred("source", "src1")))
      .select("doc_id", "source", "n_chars")
  }

  /** SQL `UPDATE` through the connector: the analysis-time routing
    * ([[sources.GraftDmlRule]]) turns the statement into the pruned
    * copy-on-write commit ([[Snapshot.updateWhere]] — manifest stats
    * name the candidate files, only those rewrite, one atomic
    * version). One range UPDATE (BETWEEN) + one equality UPDATE; the
    * oracle replays both relationally, so hash equality proves SQL
    * UPDATE ≡ the transactional Scala DML. */
  def snapshotDsv2Update(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotDsv2Update", dir) {
      val path = scratch("snapshot_dsv2u", dir)
      Snapshot.create(s, path, t(s, dir, "documents"), key = "doc_id",
        partitionCol = "source", statsCols = Seq("doc_id"), fileRanges = 8)
      s.sql("DROP TABLE IF EXISTS graft_dsv2_docs_u")
      s.sql(s"CREATE TABLE graft_dsv2_docs_u USING graft LOCATION '$path'")
      s.sql("UPDATE graft_dsv2_docs_u SET n_chars = n_chars + 1000, " +
        "lang = 'xx' WHERE doc_id BETWEEN 300 AND 349")
      s.sql("UPDATE graft_dsv2_docs_u SET text = concat(text, ' [u]') " +
        "WHERE doc_id = 42")
      path
    }
    Snapshot.readLatest(s, p)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** SQL `MERGE INTO` through the connector: the canonical keyed
    * upsert (`ON t.key = s.key WHEN MATCHED THEN UPDATE SET * WHEN
    * NOT MATCHED THEN INSERT *`) routed onto ONE transactional
    * [[Snapshot.merge]] commit. The source re-delivers every
    * doc_id%9==4 document revised AND brings key-offset new
    * documents, so the oracle replays update-matched ∪ insert-new
    * relationally — hash equality proves SQL MERGE ≡ the Scala merge
    * commit, matched/not-matched routing included. */
  def snapshotDsv2Merge(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotDsv2Merge", dir) {
      val path = scratch("snapshot_dsv2m", dir)
      val docs = t(s, dir, "documents")
      Snapshot.create(s, path, docs, key = "doc_id", partitionCol = "source")
      s.sql("DROP TABLE IF EXISTS graft_dsv2_docs_m")
      s.sql(s"CREATE TABLE graft_dsv2_docs_m USING graft LOCATION '$path'")
      docs.filter(col("doc_id") % 9 === 4)
        .withColumn("text", concat(col("text"), lit(" [m]")))
        .withColumn("n_chars", col("n_chars") + 3)
        .unionByName(docs.filter(col("doc_id") % 17 === 3)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("text", concat(col("text"), lit(" [new]"))))
        .createOrReplaceTempView("graft_dsv2_merge_src")
      s.sql("MERGE INTO graft_dsv2_docs_m t USING graft_dsv2_merge_src s " +
        "ON t.doc_id = s.doc_id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      path
    }
    Snapshot.readLatest(s, p)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** SQL `MERGE INTO` with the FULL action surface: conditioned
    * actions cascading in SQL first-match-wins order (a matched
    * DELETE guard ahead of the catch-all UPDATE), a PARTIAL
    * target-referencing update (`n_chars = t.n_chars + s.nc`,
    * unassigned columns completed from the target row join-side — the
    * format's merge primitive replaces whole rows, so partial updates
    * are completed, never approximated), a conditioned partial-column
    * INSERT (unlisted columns null-pad), and a conditioned `NOT
    * MATCHED BY SOURCE` DELETE over the target-minus-source anti-join
    * — all landing as ONE transactional commit. The oracle replays
    * every branch relationally, so hash equality proves the cascade,
    * the join-side completion, and the by-source routing. */
  def snapshotDsv2MergeCond(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotDsv2MergeCond", dir) {
      val path = scratch("snapshot_dsv2mc", dir)
      val docs = t(s, dir, "documents")
      Snapshot.create(s, path, docs, key = "doc_id", partitionCol = "source")
      s.sql("DROP TABLE IF EXISTS graft_dsv2_docs_mc")
      s.sql(s"CREATE TABLE graft_dsv2_docs_mc USING graft LOCATION '$path'")
      docs.filter(col("doc_id") % 7 === 2)
        .select(col("doc_id"), (col("n_chars") * 2).as("nc"),
          col("source").as("src2"))
        .unionByName(docs.filter(col("doc_id") % 13 === 5)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            col("n_chars").as("nc"), col("source").as("src2")))
        .createOrReplaceTempView("graft_dsv2_mc_src")
      s.sql("""MERGE INTO graft_dsv2_docs_mc t USING graft_dsv2_mc_src s
        ON t.doc_id = s.doc_id
        WHEN MATCHED AND s.nc > 900 THEN DELETE
        WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + s.nc,
          text = concat(t.text, ' [c]')
        WHEN NOT MATCHED AND s.nc <= 300 THEN
          INSERT (doc_id, source, n_chars) VALUES (s.doc_id, s.src2, s.nc)
        WHEN NOT MATCHED BY SOURCE AND t.doc_id BETWEEN 100 AND 140 THEN
          DELETE""")
      path
    }
    Snapshot.readLatest(s, p)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** SQL `MERGE INTO` with a COMPOUND ON condition — key equality
    * AND-ed with a cross-side conjunct (`t.source = s.src2`, the Delta
    * partition-pruning merge idiom): the extra conjunct gates MATCH
    * MEMBERSHIP itself, so a key-equal pair whose sources disagree is
    * NOT matched — its source row INSERTS (on this keyed format the
    * insert replaces the key's row, the documented upsert-on-key
    * contract) and partial INSERT columns null-pad. Genuinely new
    * keys insert alongside. The oracle replays matched/unmatched
    * membership under the full ON relationally, so hash equality
    * proves compound-ON semantics end to end. */
  def snapshotDsv2MergeOn(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotDsv2MergeOn", dir) {
      val path = scratch("snapshot_dsv2mo", dir)
      val docs = t(s, dir, "documents")
      Snapshot.create(s, path, docs, key = "doc_id", partitionCol = "source")
      s.sql("DROP TABLE IF EXISTS graft_dsv2_docs_mo")
      s.sql(s"CREATE TABLE graft_dsv2_docs_mo USING graft LOCATION '$path'")
      docs.filter(col("doc_id") % 5 === 1)
        .select(col("doc_id"), (col("n_chars") * 3).as("nc"),
          when(col("doc_id") % 2 === 0, col("source"))
            .otherwise(lit("srcX")).as("src2"))
        .unionByName(docs.filter(col("doc_id") % 19 === 2)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            col("n_chars").as("nc"), col("source").as("src2")))
        .createOrReplaceTempView("graft_dsv2_mo_src")
      s.sql("""MERGE INTO graft_dsv2_docs_mo t USING graft_dsv2_mo_src s
        ON t.doc_id = s.doc_id AND t.source = s.src2
        WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + s.nc,
          text = concat(t.text, ' [on]')
        WHEN NOT MATCHED THEN
          INSERT (doc_id, source, n_chars) VALUES (s.doc_id, s.src2, s.nc)""")
      path
    }
    Snapshot.readLatest(s, p)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** COMPOSITE KEY + MULTI-COLUMN PARTITIONING end to end: a table
    * keyed (lang, doc_id) and partitioned (source, lang), upserted by
    * SQL `MERGE INTO` whose ON anchors BOTH key columns. The source
    * re-delivers doc_id%9==4 rows revised (same composite key →
    * update) AND delivers doc_id%17==3 rows under a NEW lang
    * (`lang||'x'`) — the SAME doc_id, a DIFFERENT composite key, so
    * they INSERT and COEXIST with the originals; a single-column
    * doc_id key would have replaced them. The oracle replays the
    * two-column upsert relationally, so hash equality proves the
    * composite anchor, the composite dup-key gate and the two-column
    * partition routing in one artifact. */
  def snapshotMultikey(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotMultikey", dir) {
      val path = scratch("snapshot_mk", dir)
      val docs = t(s, dir, "documents")
      // fileRanges bounds files-per-partition (range layout on
      // (__part, keys)): without it a 32-thread write sprays ~32
      // files into EVERY (source, lang) partition and the read pays
      // ~1600 file opens at sf1 — the layout declaration any real
      // composite-partitioned table would carry
      Snapshot.createMulti(s, path, docs,
        keys = Seq("lang", "doc_id"), partitionCols = Seq("source", "lang"),
        fileRanges = 8)
      s.sql("DROP TABLE IF EXISTS graft_mk_docs")
      s.sql(s"CREATE TABLE graft_mk_docs USING graft LOCATION '$path'")
      docs.filter(col("doc_id") % 9 === 4)
        .withColumn("text", concat(col("text"), lit(" [mk]")))
        .withColumn("n_chars", col("n_chars") + 7)
        .unionByName(docs.filter(col("doc_id") % 17 === 3)
          .withColumn("lang", concat(col("lang"), lit("x")))
          .withColumn("text", concat(col("text"), lit(" [alt]"))))
        .createOrReplaceTempView("graft_mk_src")
      s.sql("MERGE INTO graft_mk_docs t USING graft_mk_src s " +
        "ON t.lang = s.lang AND t.doc_id = s.doc_id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      path
    }
    Snapshot.readLatest(s, p)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** HIDDEN PARTITIONING, the `days(ts)` transform: events partition
    * by the UTC day DERIVED from their timestamp — no materialized
    * date column — and a plain SQL range filter on `ts` prunes to the
    * matching days' files through the monotone transform mapping
    * (timestamp bound → day string, ISO-lexicographic) before the
    * scan plans. The oracle is the bare relational filter, so hash
    * equality proves pruning changed IO, never semantics. */
  def snapshotDaysPrune(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotDaysPrune", dir) {
      val path = scratch("snapshot_days", dir)
      val ev = t(s, dir, "events")
      Snapshot.createMulti(s, path, ev,
        keys = Seq("event_id"), partitionCols = Seq("days(ts)"),
        statsCols = Seq("ts"))
      s.sql("DROP TABLE IF EXISTS graft_days_events")
      s.sql(s"CREATE TABLE graft_days_events USING graft LOCATION '$path'")
      path
    }
    s.sql("""SELECT event_id, ts, user_id, event_type, value
      FROM graft_days_events
      WHERE ts >= TIMESTAMP'2024-01-10 00:00:00'
        AND ts < TIMESTAMP'2024-01-13 00:00:00'""")
  }

  /** HIDDEN PARTITIONING, the `bucket(n, col)` transform: documents
    * partition by a stable 8-way hash bucket of `doc_id`, and an
    * IN-list point lookup maps each key through the SAME hash
    * driver-side — only the matching buckets' files are handed to the
    * scan (an absent key costs its bucket, never the table). The
    * oracle is the bare IN filter; hash equality proves the bucket
    * mapping is exactly the write-side hash. */
  def snapshotBucketPrune(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotBucketPrune", dir) {
      val path = scratch("snapshot_bkt", dir)
      Snapshot.createMulti(s, path, t(s, dir, "documents"),
        keys = Seq("doc_id"), partitionCols = Seq("bucket(8,doc_id)"))
      path
    }
    Snapshot.read(s, p, Seq(Snapshot.InPred("doc_id", Seq(7L, 42L, 103L, 999999L))))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** HIDDEN PARTITIONING, the `hours(ts)` transform — the hour-grain
    * event table `days(ts)` can't serve: partitions derive as the UTC
    * hour (`yyyy-MM-dd-HH`, hive-safe) and an INTRA-DAY timestamp
    * window prunes to the matching hours' files through the same
    * monotone mapping as days (strict bounds relax to their inclusive
    * hour). The oracle is the bare range filter, so hash equality
    * proves the hour mapping is exactly the write-side derivation. */
  def snapshotHoursPrune(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotHoursPrune", dir) {
      val path = scratch("snapshot_hours", dir)
      // the first WEEK of events: hour-grain partitioning is for hot
      // recent windows — a month of hours (720 dirs) is the
      // small-files anti-pattern the layout verbs exist to fix, and
      // a real table would hours-partition only its live tail
      val ev = t(s, dir, "events")
        .filter(col("ts") < lit("2024-01-08").cast("timestamp"))
      Snapshot.createMulti(s, path, ev,
        keys = Seq("event_id"), partitionCols = Seq("hours(ts)"),
        statsCols = Seq("ts"), fileRanges = 4)
      s.sql("DROP TABLE IF EXISTS graft_hours_events")
      s.sql(s"CREATE TABLE graft_hours_events USING graft LOCATION '$path'")
      path
    }
    s.sql("""SELECT event_id, ts, user_id, event_type, value
      FROM graft_hours_events
      WHERE ts >= TIMESTAMP'2024-01-03 06:00:00'
        AND ts < TIMESTAMP'2024-01-03 18:00:00'""")
  }

  /** PARTITION-SPEC EVOLUTION: a table created partitioned by
    * `source` migrates to `(lang)` as ONE rewrite commit
    * ([[Snapshot.repartitionTable]] — no DROP+CREATE, older versions
    * keep their own spec), after which a lang point-read prunes on
    * the NEW spec's partition values. The oracle is the bare filter
    * over the base data — the respec moved bytes, never rows. */
  def snapshotRepartition(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotRepartition", dir) {
      val path = scratch("snapshot_resp", dir)
      Snapshot.create(s, path, t(s, dir, "documents"),
        key = "doc_id", partitionCol = "source")
      Snapshot.repartitionTable(s, path, Seq("lang"))
      path
    }
    Snapshot.read(s, p, Seq(Snapshot.InPred("lang", Seq("fr"))))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** SQL `INSERT OVERWRITE` through the connector: ONE transactional
    * REPLACE commit ([[graft.operators.Snapshot.overwrite]]) — the
    * incoming frame becomes the table's entire visible state, the
    * table contract (key/partition/layout/stats/guards) carries
    * forward, and the pre-overwrite version stays time-travelable
    * (old files leave the manifest, not the disk). The oracle replays
    * the SELECT the overwrite landed, so hash equality proves replace
    * semantics end-to-end. */
  def snapshotDsv2Overwrite(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotDsv2Overwrite", dir) {
      val path = scratch("snapshot_dsv2ow", dir)
      val docs = t(s, dir, "documents")
      Snapshot.create(s, path, docs, key = "doc_id", partitionCol = "source")
      s.sql("DROP TABLE IF EXISTS graft_dsv2_docs_ow")
      s.sql(s"CREATE TABLE graft_dsv2_docs_ow USING graft LOCATION '$path'")
      docs.createOrReplaceTempView("graft_dsv2_ow_src")
      s.sql("INSERT OVERWRITE graft_dsv2_docs_ow " +
        "SELECT doc_id, concat(text, ' [ow]') AS text, lang, source, " +
        "n_chars + 10 AS n_chars FROM graft_dsv2_ow_src WHERE doc_id % 3 = 0")
      path
    }
    Snapshot.readLatest(s, p)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** PARTITION-SCOPED `INSERT OVERWRITE … PARTITION (source = 'src3')`
    * — the daily-refresh verb: exactly one partition's rows replace
    * with the statement's SELECT (the static spec binds the partition
    * constant), every other partition's FILES carry forward verbatim
    * (zero rewrite — the spec asserts byte-identity), one commit, the
    * pre-refresh state time-travelable. The oracle replays the
    * refresh relationally: src3 rows are the transformed re-delivery,
    * everything else untouched. */
  def snapshotDsv2OverwritePart(s: SparkSession, dir: String): DataFrame = {
    val p = fixture("snapshotDsv2OverwritePart", dir) {
      val path = scratch("snapshot_dsv2owp", dir)
      val docs = t(s, dir, "documents")
      Snapshot.create(s, path, docs, key = "doc_id", partitionCol = "source")
      s.sql("DROP TABLE IF EXISTS graft_dsv2_docs_owp")
      s.sql(s"CREATE TABLE graft_dsv2_docs_owp USING graft LOCATION '$path'")
      docs.createOrReplaceTempView("graft_dsv2_owp_src")
      s.sql("INSERT OVERWRITE graft_dsv2_docs_owp PARTITION (source = 'src3') " +
        "SELECT doc_id, concat(text, ' [p]') AS text, lang, " +
        "n_chars * 2 AS n_chars FROM graft_dsv2_owp_src " +
        "WHERE source = 'src3' AND doc_id % 2 = 0")
      path
    }
    Snapshot.readLatest(s, p)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** TIME TRAVEL over the versioned snapshot table: after three
    * commits (create, merge, merge), read the table AS OF v2 — the
    * later commit must be invisible and v2's bytes still live. The
    * oracle replays only the FIRST change set relationally, so hash
    * equality proves commits are isolated and the manifest serves the
    * exact historical state. */
  def snapshotTimetravel(s: SparkSession, dir: String): DataFrame =
    Snapshot.readAt(s, snapshotTablePath(s, dir), 2)
      .select("doc_id", "text", "lang", "source", "n_chars")

  /** Stats-pruned range read of the snapshot table's LATEST version:
    * the manifest's per-file doc_id min/max admit only a fraction of
    * the files (SnapshotSpec asserts the skip count); the oracle
    * replays both change sets and filters, so hash equality proves
    * pruning never changes semantics. */
  def snapshotPruned(s: SparkSession, dir: String): DataFrame =
    Snapshot.read(s, snapshotTablePath(s, dir),
        Seq(Snapshot.RangePred("doc_id", 100, 299)),
        version = 3) // pinned pre-DML state; snapshot_dml reads the tip
      .select("doc_id", "text", "lang", "source", "n_chars")

  /** POINT LOOKUPS over the snapshot table (v3 state): three
    * `doc_id =` reads served through [[Snapshot.read]] — partition
    * stats + per-file BLOOM filters name the files that might hold
    * the key; id 13 was deleted in v2 and comes back empty (for an
    * absent key the bloom proves absence without opening a data
    * file). The oracle replays both change sets + `IN (5,13,14)`, so
    * hash equality proves eq-pruning never changes semantics. */
  def snapshotPoint(s: SparkSession, dir: String): DataFrame = {
    val p = snapshotTablePath(s, dir)
    Seq(5L, 13L, 14L)
      .map(id => Snapshot.read(s, p, Seq(Snapshot.InPred("doc_id", Seq(id))),
        version = 3))
      .reduce(_ unionByName _)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** PREDICATE DML end state: after the catalog build's v4 range
    * DELETE (doc_id 150-199) and v5 range UPDATE (doc_id 300-349 →
    * lang 'xx', n_chars + 1000), read the table tip. Both commits
    * rewrote ONLY the files whose manifest stats admit the predicate
    * (file-granularity copy-on-write); the oracle replays merges +
    * DELETE + UPDATE relationally, so hash equality proves the
    * pruned rewrite is exactly SQL DML. */
  def snapshotDml(s: SparkSession, dir: String): DataFrame =
    Snapshot.readAt(s, snapshotTablePath(s, dir), 5)
      .select("doc_id", "text", "lang", "source", "n_chars")

  /** MERGE-ON-READ DELETE end state: after the catalog build's v6/v7
    * deletion-vector deletes (doc_id 400-449, then 430-480 — the
    * overlap exercises the cumulative position union on shared
    * files), read the table tip. NO data file was rewritten by either
    * commit (SnapshotMorSpec asserts byte-identity); reads apply the
    * vectors as a position anti-join. The oracle replays all DML
    * relationally, so hash equality proves merge-on-read ≡
    * copy-on-write ≡ SQL DELETE. */
  def snapshotMor(s: SparkSession, dir: String): DataFrame =
    Snapshot.readLatest(s, snapshotTablePath(s, dir))
      .select("doc_id", "text", "lang", "source", "n_chars")

  /** MANIFEST-ONLY AGGREGATE over the snapshot table's v3 state:
    * count/count(c)/min/max answered from per-file stats folded
    * driver-side — ZERO data files opened, however large the table
    * (every table format's count(*) fast path, generalized to the
    * tracked stats columns). The oracle replays both merge change
    * sets and aggregates the rebuilt state, so hash equality proves
    * the manifest math is the exact aggregate. */
  def snapshotAgg(s: SparkSession, dir: String): DataFrame =
    Snapshot.aggStats(s, snapshotTablePath(s, dir),
      Seq("doc_id", "n_chars"), version = 3,
      sums = Seq("doc_id", "n_chars"), distincts = Seq("doc_id"))

  /** The HYBRID aggregate path at the table TIP (v7 — deletion
    * vectors live on the MoR-touched files): clean files fold from
    * the manifest, dv-masked files — and only they — re-aggregate
    * dv-applied, and the combination must equal the one-shot
    * aggregate of the fully replayed DML state. The oracle replays
    * all five DML waves then aggregates (incl. the portable-HLL
    * distinct), so hash equality proves the clean/dirty split is
    * seamless — the spec-only half of #174 promoted to a full
    * oracle. */
  def snapshotAggMor(s: SparkSession, dir: String): DataFrame =
    Snapshot.aggStats(s, snapshotTablePath(s, dir),
      Seq("doc_id", "n_chars"),
      sums = Seq("doc_id", "n_chars"), distincts = Seq("doc_id"))

  /** CHANGE FEED between two snapshot versions: #105's corpus delta
    * composed with the table format — `delta(readAt(v2), readAt(v3))`
    * classifies every doc across the two committed states from the
    * manifests alone, no external "previous snapshot" copy needed.
    * The incremental-consumer entry point: re-embed added+updated,
    * retire removed, skip the unchanged mass. */
  def snapshotDelta(s: SparkSession, dir: String): DataFrame = {
    val p = snapshotTablePath(s, dir)
    operators.Versioning.delta(
      Snapshot.readAt(s, p, 2), Snapshot.readAt(s, p, 3),
      col("doc_id"), col("text"), col("doc_id"), col("text"))
  }

  /** Blocklist screening terms for the catalog query: data-ish words
    * and phrases present in the synthetic corpus + one absent term,
    * shared verbatim with the DuckDB oracle. */
  private[graft] val BlocklistTerms: Seq[String] =
    Seq("slow", "vector", "big table", "stream", "zzyzx")

  /** Aho-Corasick blocklist screen: distinct blocked terms per doc
    * (one O(len) automaton pass) + the keep flag. */
  def textBlocklist(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
        TextAnalysisCols.blocklistHits(col("text"), BlocklistTerms).as("n_blocked"))
      .withColumn("keep", col("n_blocked") === 0L)

  /**
   * GATE AUDIT — per-document attribution across the cleaning gates:
   * every flag computed in one pass (language, quality, blocklist,
   * exact-dup canonicality, benchmark contamination), plus the final
   * keep and the FIRST failed gate. When a pipeline drops 40% of a
   * crawl, "which gate, per document" is the first operational
   * question; filtering pipelines answer it only by re-running each
   * stage. Flags here are the same predicates pipelineDocs applies.
   */
  def qGateAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val fp = TextAnalysisCols.normFingerprint(col("text"))
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(TextAnalysisCols.normFingerprint(col("text")).as("bfp")).distinct()
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val qscore = graft.functions.TextFeatures
      .qualityStruct(col("text"), TextAnalysisCols.EnStop).getField("quality_score")
    val flagged = docs
      .withColumn("lang_ok", TextAnalysisCols.langId(col("text")) === "en")
      .withColumn("quality_ok", qscore >= 0.51)
      .withColumn("blocklist_ok",
        TextAnalysisCols.blocklistHits(col("text"), BlocklistTerms) === 0L)
      .withColumn("dup_canonical", row_number().over(w) === 1)
      .withColumn("__fp", fp)
      .join(broadcast(bench), col("__fp") === col("bfp"), "left")
      .withColumn("decon_ok", col("bfp").isNull)
    flagged.select(col("doc_id"),
      col("lang_ok"), col("quality_ok"), col("blocklist_ok"),
      col("dup_canonical"), col("decon_ok"),
      (col("lang_ok") && col("quality_ok") && col("blocklist_ok") &&
        col("dup_canonical") && col("decon_ok")).as("keep"),
      when(!col("lang_ok"), lit("lang"))
        .when(!col("quality_ok"), lit("quality"))
        .when(!col("blocklist_ok"), lit("blocklist"))
        .when(!col("dup_canonical"), lit("duplicate"))
        .when(!col("decon_ok"), lit("contaminated"))
        .otherwise(lit("")).as("first_failed"))
  }

  /** Export sharding: 64-doc shards under the seeded permutation,
    * summarized by the shard manifest. */
  def exportShardsQ(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.shardManifest(
      operators.Sampling.exportShards(t(s, dir, "documents"),
        col("doc_id"), seed = "s42", docsPerShard = 64))

  /** Ordered funnel view→click→purchase: users per furthest stage.
    * Ordering by event_id (monotone in ts, integer-exact); the
    * deterministic 1/29 thinning sparsifies the synthetic stream so
    * stages actually differentiate (unthinned, every user converts). */
  def qFunnel(s: SparkSession, dir: String): DataFrame =
    operators.Funnel.counts(
      t(s, dir, "events").filter(col("event_id") % 29 === 0),
      col("user_id"), col("event_id"), col("event_type"),
      steps = Seq("view", "click", "purchase"))

  /** Event-transition bigrams (the Markov view of the stream): per
    * user, consecutive event-type pairs in event_id order (monotone in
    * ts, integer-exact tie-free ordering), counted globally. One lag
    * window PARTITIONED BY user — no global sort, scales by user key —
    * plus one groupBy over a (|types|²)-bounded pair space. The
    * "what do users do next" primitive behind next-action models and
    * funnel discovery. */
  def qEventBigrams(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("e1", lag(col("event_type"), 1).over(w))
      .filter(col("e1").isNotNull)
      .groupBy(col("e1"), col("event_type").as("e2"))
      .agg(count(lit(1)).as("n"))
  }

  /** Weekly signup-cohort retention curve. */
  def qCohort(s: SparkSession, dir: String): DataFrame =
    operators.Funnel.cohortRetention(t(s, dir, "events"),
      col("user_id"), col("ts"), col("event_type"), cohortType = "signup")

  /** Blocked fuzzy self-join: customer-name pairs within edit
    * distance 1, candidates blocked on the 16-char name prefix (the
    * stable part of the entity key). */
  def fuzzyNames(s: SparkSession, dir: String): DataFrame =
    operators.Fuzzy.selfFuzzyPairs(t(s, dir, "customer"),
        col("c_custkey"), col("c_name"),
        block = k => substring(k, 1, 16), maxDist = 1)
      .select("id_a", "id_b", "dist")

  /** Jaro-Winkler similarity mode of the blocked fuzzy join —
    * transposition-tolerant name matching, oracle-exact against
    * DuckDB's jaro_winkler_similarity. Blocking note: TPC-H names
    * share a constant 12-char prefix, so a 12-char block is ONE
    * 15k-row block = 225M scored pairs (measured 7-9 s regardless of
    * salting — the work is real, not skew); 16 chars leaves 100-row
    * last-2-digit families, cutting scored pairs 1500× while the
    * oracle mirrors the same key. Picking a selective block IS the
    * operator's contract; the grid-salt guard covers the
    * dirty-key-you-can't-change case (spec-asserted). */
  def fuzzyNamesJw(s: SparkSession, dir: String): DataFrame =
    operators.Fuzzy.selfSimilarityPairs(t(s, dir, "customer"),
        col("c_custkey"), col("c_name"),
        block = k => substring(k, 1, 16), minSim = 0.98)
      .select("id_a", "id_b", "sim")

  /** Rolling 3-row window per user over the event stream: count,
    * floor-sum, min, max — integer/order-free aggregates, so the
    * incremental sliding-frame evaluation is cross-engine exact. */
  def qRolling(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(-2, 0)
    t(s, dir, "events").select(
      col("user_id"), col("event_id"),
      count(lit(1)).over(w).as("roll_cnt"),
      sum(floor(col("value")).cast("long")).over(w).as("roll_sum"),
      min(col("value")).over(w).as("roll_min"),
      max(col("value")).over(w).as("roll_max"))
  }

  // ====================================================================
  // Registry
  // ====================================================================

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_json" -> srcJson _,
    "src_csv" -> srcCsv _,
    "src_orc" -> srcOrc _,
    "src_avro" -> srcAvro _,
    "normalize_coalesce" -> normalizeCoalesce _,
    "normalize_flatten" -> normalizeFlatten _,
    "select_columns" -> selectColumnsQ _,
    "drop_columns" -> dropColumnsQ _,
    "add_fields" -> addFieldsQ _,
    "validate_ok" -> validateOk _,
    "validate_ko" -> validateKo _,
    "validate_date_ok" -> validateDateOk _,
    "field_stats" -> fieldStatsQ _,
    "field_stats_approx" -> fieldStatsApproxQ _,
    "field_quantiles" -> fieldQuantilesQ _,
    "dd_quantile_portable" -> ddQuantilePortable _,
    "field_topk" -> fieldTopkQ _,
    "validation_stats" -> validationStatsQ _,
    "top_errors" -> topErrorsQ _,
    "dataflow_e2e" -> dataflowE2e _,
    "q1_pricing" -> q1Pricing _,
    "q3_revenue" -> q3Revenue _,
    "q3_revenue_bucketed" -> q3RevenueBucketed _,
    "q3_revenue_salted" -> q3RevenueSalted _,
    "q5_nation_revenue" -> q5NationRevenue _,
    "q_top_customers" -> qTopCustomers _,
    "q_no_order_customers" -> qNoOrderCustomers _,
    "q_events_hourly" -> qEventsHourly _,
    "q_events_props" -> qEventsProps _,
    "q_event_pivot" -> qEventPivot _,
    "q_rollup" -> qRollup _,
    "q_ntile" -> qNtile _,
    "q_set_ops" -> qSetOps _,
    "q_sessions" -> qSessions _,
    "q_sessions_sw" -> qSessionsSw _,
    "q_anomaly" -> qAnomaly _,
    "q_asof_order" -> qAsofOrder _,
    "q_range_join" -> qRangeJoin _,
    "dedup_exact" -> dedupExact _,
    "dedup_ngram_jaccard" -> dedupNgramJaccard _,
    "dedup_minhash" -> dedupMinhash _,
    "dedup_simhash" -> dedupSimhash _,
    "dedup_simhash_incremental" -> dedupSimhashIncremental _,
    "dedup_clusters" -> dedupClusters _,
    "dedup_clusters_incremental" -> dedupClustersIncrementalQ _,
    "dedup_embedding_incremental" -> dedupEmbeddingIncremental _,
    "dedup_keep_best" -> dedupKeepBest _,
    "top_spans" -> topSpansQ _,
    "dedup_incremental" -> dedupIncremental _,
    "dedup_substrings" -> dedupSubstrings _,
    "dedup_embedding" -> dedupEmbedding _,
    "sim_topk" -> simTopK _,
    "sim_cross" -> simCross _,
    "sim_cross_lsh" -> simCrossLsh _,
    "sim_lsh" -> simLsh _,
    "sim_lsh_auto" -> simLshAuto _,
    "sim_ivf" -> simIvf _,
    "sim_search" -> simSearch _,
    "sim_filtered" -> simFiltered _,
    "sim_ivf_int8" -> simIvfInt8 _,
    "sim_pq_served" -> simPqServed _,
    "semdedup" -> semDedupQ _,
    "dup_ngram_coverage" -> dupNgramCoverageQ _,
    "text_familiarity" -> textFamiliarityQ _,
    "multimodal_meta" -> multimodalMeta _,
    "multimodal_resize" -> multimodalResize _,
    "multimodal_frames" -> multimodalFrames _,
    "multimodal_audio" -> multimodalAudio _,
    "multimodal_video" -> multimodalVideo _,
    "text_tokens" -> textTokens _,
    "text_quality" -> textQuality _,
    "text_entropy" -> textEntropy _,
    "lm_perplexity" -> lmPerplexity _,
    "bpe_tokens" -> bpeTokens _,
    "text_langid" -> textLangId _,
    "text_fingerprint" -> textFingerprint _,
    "text_repetition" -> textRepetition _,
    "text_redact" -> textRedact _,
    "text_chunks" -> textChunks _,
    "vocab_df" -> vocabDfQ _,
    "search_bm25" -> searchBm25 _,
    "search_hybrid" -> searchHybrid _,
    "expectations_report" -> expectationsReport _,
    "q_scd2" -> qScd2 _,
    "q_scd2_apply" -> qScd2Apply _,
    "q_pagerank" -> qPageRank _,
    "mix_sqrt" -> mixSqrt _,
    "mix_clusters" -> mixClustersQ _,
    "emb_centroids" -> embCentroids _,
    "skew_keys" -> skewKeys _,
    "skew_keys_approx" -> skewKeysApprox _,
    "contamination" -> contaminationQ _,
    "event_histogram" -> eventHistogram _,
    "iqr_outliers" -> iqrOutliersQ _,
    "dup_rate_by_source" -> dupRateBySource _,
    "token_budget" -> tokenBudgetQ _,
    "strip_boilerplate" -> stripBoilerplateQ _,
    "dedup_paragraph" -> dedupParagraphQ _,
    "text_gopher" -> textGopher _,
    "text_gopher_rep" -> textGopherRep _,
    "c4_clean" -> c4CleanQ _,
    "cap_per_source" -> capPerSource _,
    "quality_gate" -> qualityGate _,
    "upsample_epochs" -> upsampleEpochsQ _,
    "shuffle_order" -> shuffleOrder _,
    "sample_exact_n" -> sampleExactN _,
    "sample_weighted" -> sampleWeighted _,
    "sample_weighted_group" -> sampleWeightedGroup _,
    "text_normalize" -> textNormalize _,
    "text_sentences" -> textSentences _,
    "pipeline_docs_v3" -> pipelineDocsV3 _,
    "pipeline_docs_v4" -> pipelineDocsV4 _,
    "split_assign" -> splitAssign _,
    "sample_stratified" -> sampleStratified _,
    "pack_sequences" -> packSequencesQ _,
    "decontaminate" -> decontaminateQ _,
    "decontaminate_bloom" -> decontaminateBloomQ _,
    "pipeline_docs" -> pipelineDocs _,
    "pipeline_docs_v2" -> pipelineDocsV2 _,
    "quality_classifier" -> qualityClassifier _,
    "text_script" -> textScript _,
    "corpus_delta" -> corpusDelta _,
    "corpus_merge" -> corpusMerge _,
    "agg_maintain" -> aggMaintain _,
    "snapshot_evolution" -> snapshotEvolution _,
    "snapshot_evolution_compact" -> snapshotEvolutionCompact _,
    "snapshot_sql_tvf" -> snapshotSqlTvf _,
    "snapshot_history_tvf" -> snapshotHistoryTvf _,
    "snapshot_changes_tag" -> snapshotChangesTag _,
    "snapshot_dsv2" -> snapshotDsv2 _,
    "snapshot_dsv2_agg" -> snapshotDsv2Agg _,
    "snapshot_dsv2_agg_group" -> snapshotDsv2AggGroup _,
    "snapshot_dsv2_agg_where" -> snapshotDsv2AggWhere _,
    "snapshot_dsv2_agg_range" -> snapshotDsv2AggRange _,
    "snapshot_dsv2_write" -> snapshotDsv2Write _,
    "snapshot_dsv2_delete" -> snapshotDsv2Delete _,
    "snapshot_dsv2_update" -> snapshotDsv2Update _,
    "snapshot_dsv2_merge" -> snapshotDsv2Merge _,
    "snapshot_dsv2_merge_cond" -> snapshotDsv2MergeCond _,
    "snapshot_dsv2_merge_on" -> snapshotDsv2MergeOn _,
    "snapshot_dsv2_dml_in" -> snapshotDsv2DmlIn _,
    "snapshot_dsv2_dml_open" -> snapshotDsv2DmlOpen _,
    "snapshot_multikey" -> snapshotMultikey _,
    "snapshot_repartition" -> snapshotRepartition _,
    "snapshot_days_prune" -> snapshotDaysPrune _,
    "snapshot_hours_prune" -> snapshotHoursPrune _,
    "snapshot_bucket_prune" -> snapshotBucketPrune _,
    "snapshot_dsv2_overwrite" -> snapshotDsv2Overwrite _,
    "snapshot_dsv2_overwrite_part" -> snapshotDsv2OverwritePart _,
    "snapshot_catalog" -> snapshotCatalog _,
    "snapshot_catalog_asof" -> snapshotCatalogAsof _,
    "snapshot_sql_tracking" -> snapshotSqlTracking _,
    "snapshot_substring" -> snapshotSubstring _,
    "snapshot_prefix" -> snapshotPrefix _,
    "snapshot_relayout" -> snapshotRelayout _,
    "snapshot_timetravel" -> snapshotTimetravel _,
    "snapshot_pruned" -> snapshotPruned _,
    "snapshot_delta" -> snapshotDelta _,
    "snapshot_point" -> snapshotPoint _,
    "snapshot_dml" -> snapshotDml _,
    "snapshot_mor" -> snapshotMor _,
    "snapshot_agg" -> snapshotAgg _,
    "snapshot_agg_mor" -> snapshotAggMor _,
    "sim_index_snapshot" -> simIndexSnapshot _,
    "sim_index_filtered" -> simIndexFiltered _,
    "emb_quantize" -> embQuantize _,
    "sim_pq" -> simPq _,
    "fuzzy_names" -> fuzzyNames _,
    "fuzzy_names_jw" -> fuzzyNamesJw _,
    "fuzzy_names_multi" -> fuzzyNamesMulti _,
    "q_rolling" -> qRolling _,
    "text_blocklist" -> textBlocklist _,
    "q_funnel" -> qFunnel _,
    "q_cohort" -> qCohort _,
    "q_event_bigrams" -> qEventBigrams _,
    "q_gate_audit" -> qGateAudit _,
    "q_cube" -> qCube _,
    "q_resample" -> qResample _,
    "export_shards" -> exportShardsQ _)
}
