package graft

import org.apache.spark.sql.SparkSession

/**
 * The one SparkSession every graft JVM runs. The CLI mains, the dev
 * benches and the test suite all build through [[local]], so the conf
 * the bench measures is the conf the scheduled pipeline, the
 * correctness dump and the specs run.
 *
 * Local cores come from `SPARK_GRAFT_CPUS`, else every processor the
 * JVM sees. `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"` overlays session confs
 * for A/B experiments; unset (the normal case) it is a no-op, and when
 * set it is logged so no run carries it silently.
 */
object GraftSession {
  private lazy val log = org.apache.logging.log4j.LogManager.getLogger("graft.GraftSession")

  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  /** Session conf for `cpus` local cores (extensions and master aside). */
  def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // graft's bounded-heap top-k agg (TopKExprs) keeps one k-sized
    // buffer per query id; the 128-group default would push it into
    // sort-based fallback (re-sorting the candidate frame — the
    // exact spill this agg exists to remove). Catalog sketch aggs
    // (HLL/CMS/DDSketch) only ever group by low-cardinality keys,
    // so the raised cap never bites them.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> (1 << 20).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** A `local[cpus]` session with [[GraftExtensions]] and [[conf]];
    * `extra` overrides single keys where a caller must differ. */
  def local(appName: String, cpus: Int = defaultCpus,
            extra: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      // analysis-time rules (SQL UPDATE/MERGE routing, TVFs, native
      // functions) can only register at session construction
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .appName(appName)
    (conf(cpus) ++ extra).foreach { case (k, v) => builder.config(k, v) }
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { overlay =>
      log.warn(s"SPARK_GRAFT_EXTRA_CONF overlays the session conf: $overlay")
      overlay.split(";").foreach { kv =>
        val i = kv.indexOf('=')
        if (i > 0) builder.config(kv.take(i).trim, kv.drop(i + 1).trim)
      }
    }
    builder.getOrCreate()
  }
}
