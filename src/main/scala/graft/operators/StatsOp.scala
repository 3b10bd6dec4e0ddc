package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Global field statistics + validation metrics
 * (reference: src/stats.py:23-100 `compute_field_stats`,
 * 103-146 `compute_validation_stats`).
 *
 * Spark-first design: the reference runs ONE Spark job per field
 * (stats.py:69 — `df.agg(...).first()` inside a Python loop), i.e.
 * N full scans for N fields. graft builds every per-field aggregate
 * into a single `.agg()` → one scan regardless of field count, then
 * unpivots the 1×(5·N) row into a long `field × stat` frame with a
 * driver-free `explode(array(struct(...)))`.
 *
 * Scale notes: exact `countDistinct` over many fields plans an
 * `Expand` (rows × fields) — fine to a few fields, but at scale the
 * HyperLogLog path (`approx_count_distinct`) keeps the plan a single
 * pass with constant-size state. `fieldStats` AUTO-SWITCHES: inputs
 * whose Catalyst size estimate exceeds
 * `spark.graft.stats.approxThresholdBytes` (default 4 MiB — small on
 * purpose so bench-scale data exercises the scale path; correctness
 * gates run below it) use HLL; pass `approxDistinct = Some(false)`
 * to force exact anywhere.
 */
object StatsOp {

  /** Conf key: plan-size estimate above which fieldStats switches
    * distinct counting to HyperLogLog. */
  val ApproxThresholdConf = "spark.graft.stats.approxThresholdBytes"
  val ApproxThresholdDefault: Long = 4L << 20

  /** Conf key: leaf-size bound under which the EXACT path computes
    * each field's distinct count as its own two-level aggregate
    * instead of folding N countDistincts into one wide agg (the
    * Expand plan). Size-switch, measured both ways at r16: small
    * inputs are fixed-overhead-bound and the split wins (sf0.1
    * lineitem, 11 MB: 2.53 → 1.10 s — the ×(N+1) Expand row stream
    * into one ~750k-group multi-column hash table dominates); larger
    * inputs amortize the single pass and the Expand wins (sf1,
    * 110 MB: 2.97 s vs the split's 6.07 — N column scans + N value
    * exchanges overtake one wide shuffle). Same philosophy as the
    * broadcast-join threshold / duplicateClusters' local solve:
    * adaptive by measured input size, never a fixed local tuning. */
  val SplitDistinctMaxBytesConf = "spark.graft.stats.splitDistinctMaxBytes"
  val SplitDistinctMaxBytesDefault: Long = 48L << 20

  /**
   * Long-format stats: one row per field with
   * (field, null_count, non_null_count, distinct_count,
   *  min_num, max_num, min_value, max_value, null_pct).
   * `min_num`/`max_num` are populated for numeric/date/timestamp
   * fields (dates/timestamps as epoch seconds), `min_value`/
   * `max_value` carry the string rendering for any orderable type.
   * `approxDistinct`: None = auto by input size (see object docs).
   */
  def fieldStats(df: DataFrame, fieldsIn: Seq[String] = Nil,
                 approxDistinct: Option[Boolean] = None,
                 portableSketch: Boolean = false): DataFrame = {
    val fields =
      (if (fieldsIn.nonEmpty) fieldsIn.filter(df.columns.contains) else df.columns.toSeq)
        .filterNot(f => isComplex(df.schema(f).dataType))
    require(fields.nonEmpty, "no stats-capable fields")

    val useApprox = approxDistinct.getOrElse {
      // size-suffixed values ("4m") are valid for every Spark size
      // conf; parse them the same way instead of a bare toLong
      val threshold = df.sparkSession.conf.getOption(ApproxThresholdConf)
        .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
        .getOrElse(ApproxThresholdDefault)
      // Gate on the SUM OF LEAF sizes, not the derived-plan estimate:
      // Catalyst multiplies child estimates through joins and defaults
      // stat-less leaves to huge values, which would silently flip a
      // small joined frame to approximate counting. Leaf stats are the
      // actual file/in-memory sizes — the quantity "is this input big"
      // actually means.
      Scale.estimatedLeafBytes(df) > threshold
    }
    // Approximate counting: Spark's HLL++ by default; `portableSketch`
    // swaps in graft's md5-hashed portable HLL (p=12) over a CANONICAL
    // string rendering — estimates any md5-capable engine can
    // reproduce bit-for-bit (the field_stats_approx oracle rebuilds
    // the registers in DuckDB SQL), at a slower per-value hash.
    // Float/double fields canonicalize through PortableNum (exact
    // (m, e) rendering): engine string renderings of doubles diverge
    // past 1e7 (scientific-notation thresholds) and on -0.0, so
    // `cast(string)` is only portable for the remaining types.
    def portableRender(c: Column, dt: DataType): Column = dt match {
      case DoubleType => graft.functions.PortableNum.canonDouble(c)
      case FloatType =>
        graft.functions.PortableNum.canonDouble(c.cast("double")) // exact widening
      case _ => c.cast("string")
    }
    def distinctAgg(c: Column, dt: DataType) =
      if (useApprox && portableSketch)
        graft.functions.HllExprs.hllEstimate(
          graft.functions.HllExprs.hllSketch(portableRender(c, dt), 12,
            portable = true))
      else approx_count_distinct(c) // exact path never reaches here

    // EXACT distinct counting is kept OUT of the wide aggregate at
    // EVERY size: N `countDistinct`s in one agg plan an `Expand` —
    // every row multiplied ×(N+1) into a single hash aggregate keyed
    // on ALL N value columns at once (measured at sf0.1: a 5× row
    // stream into one ~750k-group, 54-buffer-slot table, the whole
    // query 2.5 s; 3.3 s at the 10× dir). The per-field distinct
    // frame is broadcast-joined back onto the unpivoted stats, and
    // is computed by one of TWO plans on the leaf-size switch:
    //  - BELOW `spark.graft.stats.splitDistinctMaxBytes` (48 MB):
    //    each field gets its own column-pruned two-level aggregate
    //    (map-side value pre-dedup, global count) — N tiny scans,
    //    measured 1.35 s vs 1.95 s for the unpivot at sf0.1 (the
    //    per-row rendering+explode costs more than re-scanning 11 MB).
    //  - ABOVE the bound: ONE extra scan unpivoted to (field index,
    //    injectively-rendered value), two-level (idx, value) distinct
    //    (opt guide §2.3: narrow keys, map-side pre-aggregation) —
    //    measured 1.98 s vs 3.30 s (Expand) and 6.07 s (split scans)
    //    at the 10× dir; replaces r16's above-bound Expand plan.
    // The APPROX (100 TB) path is untouched: HLL sketches fold into
    // the one-pass wide agg with constant state.
    val splitDistinct = !useApprox
    val splitScans = splitDistinct && {
      val bound = df.sparkSession.conf.getOption(SplitDistinctMaxBytesConf)
        .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
        .getOrElse(SplitDistinctMaxBytesDefault)
      Scale.estimatedLeafBytes(df) <= bound
    }

    val aggs: Seq[Column] = Seq(count(lit(1)).as("__total")) ++ fields.flatMap { f =>
      val c = col(f)
      val dt = df.schema(f).dataType
      // DATE → DOUBLE is an illegal cast even under try_cast; route
      // dates through timestamp (session TZ is UTC in graft mains) so
      // min_num/max_num are epoch seconds as documented.
      def asNum(x: Column): Column = dt match {
        case _: DateType => x.cast("timestamp").try_cast("double")
        case _           => x.try_cast("double")
      }
      val numeric = isNumericLike(dt)
      Seq(
        count(when(c.isNull, 1)).as(s"$f#null"),
        count(c).as(s"$f#nonnull")) ++
      (if (splitDistinct) Nil
       else Seq(distinctAgg(c, dt).as(s"$f#distinct"))) ++
      Seq(
        (if (numeric) asNum(min(c)) else lit(null).cast("double")).as(s"$f#minn"),
        (if (numeric) asNum(max(c)) else lit(null).cast("double")).as(s"$f#maxn"),
        min(c).try_cast("string").as(s"$f#mins"),
        max(c).try_cast("string").as(s"$f#maxs"))
    }

    val wide = df.agg(aggs.head, aggs.tail: _*)
    val structs = fields.map { f =>
      struct(
        Seq(
          lit(f).as("field"),
          col(s"`$f#null`").as("null_count"),
          col(s"`$f#nonnull`").as("non_null_count")) ++
        (if (splitDistinct) Nil
         else Seq(col(s"`$f#distinct`").as("distinct_count"))) ++
        Seq(
          col(s"`$f#minn`").as("min_num"),
          col(s"`$f#maxn`").as("max_num"),
          col(s"`$f#mins`").as("min_value"),
          col(s"`$f#maxs`").as("max_value"),
          (col(s"`$f#null`").cast("double") * 100.0 / col("__total")).as("null_pct")): _*)
    }
    val long = wide.select(explode(array(structs: _*)).as("s")).select("s.*")
    if (!splitDistinct) long
    else {
      val uniq = fields.distinct
      val dc = if (splitScans) {
        // per-field exact distinct: value-keyed pre-aggregation (null
        // group dropped — countDistinct semantics), then a global
        // count; N 1-row frames union into the broadcast side
        uniq.map { f =>
          df.select(col(f).as("__v")).where(col("__v").isNotNull)
            .distinct()
            .agg(count(lit(1)).as("distinct_count"))
            .select(lit(f).as("field"), col("distinct_count"))
        }.reduce(_ unionAll _)
      } else {
        // ONE extra scan: unpivot every field to (field index,
        // injectively-rendered value), two-level aggregate — map-side
        // (idx, value) pre-dedup, then count per idx. The rendering
        // preserves countDistinct semantics per type: strings/binary
        // compare as their own bytes, integral/decimal/date/timestamp
        // renderings are injective, and float/double first normalize
        // -0.0 via `+ 0.0` (aggregation keys normalize -0.0 to 0.0;
        // a raw cast would split that group). Nulls drop —
        // countDistinct counts non-null values.
        val rendered = uniq.map { f =>
          df.schema(f).dataType match {
            case DoubleType => (col(f) + lit(0.0d)).cast("string")
            case FloatType  => (col(f) + lit(0.0f)).cast("string")
            case _          => col(f).cast("string")
          }
        }
        val fieldName = element_at(
          array(uniq.map(lit): _*), col("__fi") + 1).as("field")
        df.select(posexplode(array(rendered: _*)).as(Seq("__fi", "__v")))
          .where(col("__v").isNotNull)
          .groupBy("__fi", "__v").agg(count(lit(1)))
          .groupBy("__fi").agg(count(lit(1)).as("distinct_count"))
          .select(fieldName, col("distinct_count"))
      }
      long.join(broadcast(dc), Seq("field"))
        .select(col("field"), col("null_count"), col("non_null_count"),
          col("distinct_count"), col("min_num"), col("max_num"),
          col("min_value"), col("max_value"), col("null_pct"))
    }
  }

  /**
   * Validation summary over a [[Validate.tagged]] frame: one row of
   * totals + pass/fail rates, computed in one pass (the reference
   * counts ok and ko frames separately — two jobs).
   */
  def validationStats(tagged: DataFrame): DataFrame = {
    val valid = col(Validate.ValidCol)
    tagged.agg(
      count(lit(1)).as("total_records"),
      count(when(valid, 1)).as("valid_records"),
      count(when(!valid, 1)).as("rejected_records")
    ).withColumn("validation_pass_rate",
        col("valid_records").cast("double") * 100.0 / col("total_records"))
      .withColumn("validation_fail_rate",
        col("rejected_records").cast("double") * 100.0 / col("total_records"))
  }

  /** Same summary from an already-split (ok, ko) pair. */
  def validationStatsFromSplit(ok: DataFrame, ko: DataFrame): DataFrame = {
    val flags = ok.select(lit(true).as(Validate.ValidCol))
      .unionAll(ko.select(lit(false).as(Validate.ValidCol)))
    validationStats(flags)
  }

  /**
   * Top validation errors: explode the error array, count per label,
   * descending (reference: src/stats.py:128-141).
   */
  def topErrors(ko: DataFrame, errorsCol: String = Validate.ErrorsCol): DataFrame =
    ko.select(explode(col(errorsCol)).as("error"))
      .groupBy("error")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("error"))

  /**
   * Exact interpolated quantiles per numeric field, one scan for all
   * fields (`percentile` with a probability array). Long format:
   * (field, quantiles: array<double>). Exact percentile holds the
   * column sorted per group — at 100 TB switch to
   * `approx_percentile` (t-digest, constant state) via `approx=true`.
   */
  def numericQuantiles(df: DataFrame, fieldsIn: Seq[String],
                       probs: Seq[Double] = Seq(0.5, 0.9, 0.99),
                       approx: Boolean = false): DataFrame = {
    val fields = fieldsIn.filter(f =>
      df.columns.contains(f) && isNumericLike(df.schema(f).dataType))
    require(fields.nonEmpty, "no numeric fields")
    val probsArr = array(probs.map(lit): _*)
    val aggs = fields.map { f =>
      val c = col(f).cast("double")
      (if (approx) percentile_approx(c, probsArr, lit(10000))
       else expr(s"percentile(CAST(`$f` AS DOUBLE), array(${probs.mkString(",")}))"))
        .as(s"$f#q")
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val structs = fields.map { f =>
      val qCols = probs.zipWithIndex.map { case (p, i) =>
        element_at(col(s"`$f#q`"), i + 1).as(s"q${(p * 100).round}")
      }
      struct(lit(f).as("field") +: qCols: _*)
    }
    wide.select(explode(array(structs: _*)).as("s")).select("s.*")
  }

  /**
   * Top-k most frequent values per field in ONE scan: field values
   * are exploded to (field, value) rows, counted, then ranked per
   * field (ties break on the value string for determinism).
   */
  def topValues(df: DataFrame, fieldsIn: Seq[String], k: Int = 5): DataFrame = {
    val fields = fieldsIn.filter(df.columns.contains)
    require(fields.nonEmpty, "no fields")
    val pairs = df.select(explode(array(fields.map(f =>
      struct(lit(f).as("field"), col(f).cast("string").as("value"))): _*)).as("p"))
      .select("p.*")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("field"))
      .orderBy(col("n").desc, col("value").asc)
    pairs.groupBy("field", "value")
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /**
   * Stats report as one JSON file `<dir>/<name>.json`
   * (reference: src/stats.py:145-170 `format_stats_json` /
   * `generate_stats_filename`). Stats frames are tiny (one row per
   * field / one summary row), so a driver-side collect + write is the
   * right tool — no distributed job for a kilobyte of JSON. The section
   * collects are independent one-task jobs, so they run side by side
   * ([[Concurrently]]); the JSON is rendered in section order after all
   * of them returned.
   */
  def writeStatsJson(name: String, dir: String, fieldStats: DataFrame,
                     validationStats: Option[DataFrame],
                     topErrors: Option[DataFrame]): String = {
    // collected in section order; consumed below in the same order
    val sections = Concurrently(Seq(Some(fieldStats), validationStats, topErrors)
      .flatten.map(df => () => collected(df))).iterator
    writeSections(name, dir, sections.next(),
      validationStats.map(_ => sections.next()), topErrors.map(_ => sections.next()))
  }

  /** One section of a stats report: its column names and its rows. */
  private[graft] final case class Section(fields: Seq[String], rows: Seq[Row])

  private[graft] def collected(df: DataFrame): Section =
    Section(df.schema.fieldNames.toSeq, df.collect().toSeq)

  /** Render and write the report [[writeStatsJson]] writes, from its
    * sections however they were obtained. */
  private[graft] def writeSections(name: String, dir: String, fieldStats: Section,
                                   validationStats: Option[Section],
                                   topErrors: Option[Section]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("stats_name", name)
    root.put("generated_at", java.time.Instant.now().toString)

    def rowsToArray(section: Section,
                    target: com.fasterxml.jackson.databind.node.ArrayNode): Unit =
      section.rows.foreach { row =>
        val o = target.addObject()
        section.fields.zipWithIndex.foreach { case (f, i) =>
          row.get(i) match {
            case null       => o.putNull(f)
            case v: Long    => o.put(f, v)
            case v: Int     => o.put(f, v)
            case v: Double  => o.put(f, v)
            case v: Boolean => o.put(f, v)
            case v          => o.put(f, v.toString)
          }
        }
      }

    rowsToArray(fieldStats, root.putArray("field_stats"))
    validationStats.foreach { vs =>
      val arr = mapper.createArrayNode()
      rowsToArray(vs, arr)
      if (!arr.isEmpty) root.set[com.fasterxml.jackson.databind.JsonNode]("validation_stats", arr.get(0))
    }
    topErrors.foreach(te => rowsToArray(te, root.putArray("top_validation_errors")))

    val store = LogStore.forPath(dir)
    store.mkdirs(dir)
    val file = s"${dir.stripSuffix("/")}/$name.json"
    store.putReplace(file,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    file
  }

  /** What a report observes on the OK frame its sink writes: the row
    * count. */
  private[graft] def okMetrics: Seq[Column] = Seq(count(lit(1)).as("n"))

  /** What a report observes on the KO frame its sink writes: the row
    * count, then each label's failure count. A label repeated in one
    * row's errors counts once per entry, as [[topErrors]]' explode
    * does. */
  private[graft] def koMetrics(labels: Seq[String]): Seq[Column] =
    count(lit(1)).as("n") +: labels.zipWithIndex.map { case (label, i) =>
      sum(size(filter(col(Validate.ErrorsCol), _ === lit(label)))).as(s"e$i")
    }

  /**
   * The validation summary and top errors of a report from counts
   * observed while its OK and KO frames were written: the rows
   * `validationStats` and `topErrors` collect for those counts.
   * `failures` holds each label's failure count, 0 for a label that
   * never failed. The rates evaluate the expression
   * [[validationStats]] plans, so a zero total behaves as there: null,
   * or DIVIDE_BY_ZERO under ANSI. Top errors sort by count, then label
   * in Spark's string order (UTF-8 bytes).
   */
  private[graft] def observedSections(validationStats: DataFrame, topErrors: DataFrame,
                                      ok: Long, ko: Long,
                                      failures: Seq[(String, Long)]): (Section, Section) = {
    import org.apache.spark.sql.catalyst.expressions.{Divide, EvalMode, Literal, Multiply}
    val ansi = validationStats.sparkSession.conf
      .get(org.apache.spark.sql.internal.SQLConf.ANSI_ENABLED.key).toBoolean
    val mode = if (ansi) EvalMode.ANSI else EvalMode.LEGACY
    val total = ok + ko
    def rate(n: Long): Any =
      Divide(Multiply(Literal(n.toDouble), Literal(100.0), mode),
        Literal(total.toDouble), mode).eval()
    val utf8 = org.apache.spark.unsafe.types.UTF8String.fromString _
    val top = failures.filter(_._2 > 0)
      .sortWith { case ((a, n), (b, m)) => n > m || n == m && utf8(a).compareTo(utf8(b)) < 0 }
      .map { case (label, n) => Row(label, n) }
    (Section(validationStats.schema.fieldNames.toSeq, Seq(Row(total, ok, ko, rate(ok), rate(ko)))),
      Section(topErrors.schema.fieldNames.toSeq, top))
  }

  /**
   * Join/group-key SKEW DIAGNOSTIC: the `topN` heaviest values of a
   * key with count and share of total — the operational first question
   * at 100 TB ("which keys will hot-spot this shuffle, and do they
   * need salting?"). One aggregation over the corpus; total and ranks
   * come from the (small) per-key count frame, never a second corpus
   * scan. Output: (key, cnt, share, rank), rank by (cnt desc, key asc).
   */
  def keyHistogram(df: DataFrame, key: Column, topN: Int = 20): DataFrame = {
    val counts = OpCache.cache(
      df.select(key.as("key")).groupBy("key").agg(count(lit(1)).as("cnt")))
    val total = counts.agg(sum(col("cnt")).cast("double").as("total"))
    val top = counts.orderBy(col("cnt").desc, col("key").asc).limit(topN)
    top.crossJoin(broadcast(total))
      .select(col("key"), col("cnt"),
        (col("cnt").cast("double") / col("total")).as("share"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("key").asc)))
  }

  /**
   * The APPROX twin of [[keyHistogram]] — hot keys ranked by Count-Min
   * frequency ESTIMATES from one fixed-size (~80 KB) sketch instead of
   * exact per-key counts: the shape a 100 TB hot-key probe takes when
   * the key space itself is too wide to groupBy (the sketch is the
   * only aggregate state; candidates here are the distinct keys).
   * `portable=true` (default) uses md5-prefix double hashing so the
   * estimates are engine-reproducible (the skew_keys_approx oracle
   * rebuilds the counters in DuckDB and matches exactly).
   * Output: (key, est_n), ranked (est_n desc, key asc), top-N.
   */
  def keyHistogramApprox(df: DataFrame, key: Column, topN: Int = 20,
                         portable: Boolean = true): DataFrame = {
    val e = df.filter(key.isNotNull).select(key.cast("string").as("key"))
    val sk = e.agg(graft.functions.CmsExprs
      .cmsSketch(col("key"), portable = portable).as("sk"))
    e.distinct().crossJoin(broadcast(sk))
      .select(col("key"),
        graft.functions.CmsExprs.cmsEstimate(col("sk"), col("key"),
          portable = portable).as("est_n"))
      .orderBy(col("est_n").desc, col("key"))
      .limit(topN)
  }

  /**
   * Equi-width HISTOGRAM of a numeric column over [lo, hi): bucket
   * b = min(buckets−1, floor((x−lo)/w)), w = (hi−lo)/buckets; values
   * outside [lo, hi) are dropped (count them separately if needed).
   * One scan, map-side partials, shuffle of `buckets` partial rows —
   * the distribution-shape primitive behind length/quality-threshold
   * tuning. Buckets with no values produce no row (dense rendering is
   * presentation). Output: (bucket, lo_edge, hi_edge, cnt).
   *
   * Determinism: edges and bucket ids use only IEEE-exact +,−,×,÷ and
   * floor, so Spark and DuckDB agree bit-for-bit.
   */
  def numericHistogram(df: DataFrame, value: Column,
                       lo: Double, hi: Double, buckets: Int): DataFrame = {
    require(buckets > 0 && hi > lo, "need hi > lo and buckets > 0")
    val w = (lit(hi) - lit(lo)) / lit(buckets)
    val x = value.cast("double")
    df.filter(x >= lo && x < hi)
      .select(least(lit(buckets - 1),
        floor((x - lit(lo)) / w).cast("int")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
      .select(col("bucket"),
        (lit(lo) + col("bucket") * w).as("lo_edge"),
        (lit(lo) + (col("bucket") + 1) * w).as("hi_edge"),
        col("cnt"))
  }

  /**
   * PER-GROUP IQR OUTLIER FLAGGING (Tukey fences): flag rows whose
   * metric falls outside [q1 − k·IQR, q3 + k·IQR] of their group —
   * the standard relative outlier rule when groups have different
   * scales. Exact quantiles (`percentile` ≡ DuckDB `quantile_cont`)
   * and IEEE-exact fence arithmetic make the flag cross-engine
   * deterministic.
   *
   * Scale: one aggregation for the per-group quantile pair (one row
   * per group), broadcast back into a map-side flag — the data itself
   * is never shuffled. The hint assumes a broadcastable group count;
   * pass `hintBroadcast = false` for per-key fences over millions of
   * groups. Rows with a null group cannot match the fence join and
   * are dropped. Output: input + `fence_lo`, `fence_hi`,
   * `is_outlier`.
   */
  def iqrOutliers(df: DataFrame, group: Column, metric: Column,
                  k: Double = 1.5, hintBroadcast: Boolean = true): DataFrame = {
    require(k >= 0, "k must be non-negative")
    val q = df.groupBy(group.as("__g"))
      .agg(percentile(metric, lit(0.25)).as("__q1"),
        percentile(metric, lit(0.75)).as("__q3"))
      .select(col("__g"),
        (col("__q1") - lit(k) * (col("__q3") - col("__q1"))).as("fence_lo"),
        (col("__q3") + lit(k) * (col("__q3") - col("__q1"))).as("fence_hi"))
    val side = if (hintBroadcast) broadcast(q) else q
    df.join(side, group === col("__g"))
      .withColumn("is_outlier",
        metric.cast("double") < col("fence_lo") ||
          metric.cast("double") > col("fence_hi"))
      .drop("__g")
  }

  /**
   * DUPLICATION-RATE DIAGNOSTIC: per group, how much of the corpus is
   * exact-duplicate mass — `dup_ratio = 1 − distinct/total`. The
   * triage report that decides whether a source needs the full
   * near-dup pass at all. One aggregation; content travels as a
   * 16-byte md5, and the distinct count is per-group exact.
   */
  def dupRateByGroup(df: DataFrame, group: Column, content: Column): DataFrame =
    df.groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(content)).as("n_distinct"))
      .withColumn("dup_ratio",
        lit(1.0) - col("n_distinct").cast("double") / col("n_docs"))

  private def isComplex(dt: DataType): Boolean = dt match {
    case _: StructType | _: ArrayType | _: MapType | _: BinaryType => true
    case _ => false
  }

  private def isNumericLike(dt: DataType): Boolean = dt match {
    case _: NumericType | _: DateType | _: TimestampType => true
    case _ => false
  }
}
