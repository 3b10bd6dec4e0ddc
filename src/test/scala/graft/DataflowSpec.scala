package graft

import graft.meta.MetaLoader
import org.apache.spark.sql.functions._

class DataflowSpec extends SparkSpecBase {
  import spark.implicits._

  test("metadata spec compiles to plans and writes sinks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_flow").toString
    Seq(
      """{"policy_id":1,"driver":{"age":34},"premium":"120.5"}""",
      """{"policy_id":2,"driver":{"age":15},"premium":"99.0"}""",
      """{"policy_id":3,"driver":{"age":null},"premium":"oops"}""")
      .toDS().coalesce(1).write.mode("overwrite").text(s"$dir/in")
    val spec =
      s"""{"dataflows":[{
         |"name":"motor",
         |"sources":[{"name":"raw","path":"$dir/in","format":"json"}],
         |"transformations":[
         |  {"name":"norm","type":"normalize_fields","params":{"input":"raw","output":"n","fields":[]}},
         |  {"name":"val","type":"validate_fields","params":{"input":"n",
         |    "validations":[{"field":"driver_age","validations":["notNull","min:18"]},
         |                   {"field":"premium","validations":["isNumeric"]}],
         |    "ok_output":"ok","ko_output":"ko"}}],
         |"sinks":[
         |  {"input":"ok","name":"okSink","paths":["$dir/ok"],"format":"parquet","saveMode":"overwrite"},
         |  {"input":"ko","name":"koSink","paths":["$dir/ko"],"format":"csv","saveMode":"overwrite"}]
         |}]}""".stripMargin
    val flow = MetaLoader.loadString(spec).dataflow("motor")
    Dataflow.run(spark, flow)
    val ok = spark.read.parquet(s"$dir/ok")
    assert(ok.select("policy_id").as[Long].collect().toSeq === Seq(1L))
    // KO csv: validation_errors array flattened to comma-joined string
    val ko = spark.read.option("header", "true").csv(s"$dir/ko")
    val errs = ko.select("validation_errors").as[String].collect().toSet
    assert(errs === Set(
      "driver_age:must_be_at_least_18.0",
      "driver_age:must_not_be_null,premium:must_be_numeric"))
  }

  test("RunPipeline: reference-shaped metadata end-to-end with stats JSON") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli").toString
    Seq(
      """{"policy_id":"P-1","driver":{"age":34,"license_number":"L-1"},"vehicle":{"plate":"AB-123"},"premium":120.5,"start_date":"2024-01-01","end_date":"2024-12-31"}""",
      """{"policy_id":"P-2","driver":{"age":15,"license_number":"L-2"},"vehicle":{"plate":"bad"},"premium":99.0,"start_date":"2024-01-01","end_date":"2023-01-01"}""")
      .toDS().coalesce(1).write.mode("overwrite").text(s"$dir/in")
    val metadata =
      s"""{"dataflows":[{
         |"name":"motor-ingestion",
         |"sources":[{"name":"policies","path":"$dir/in","format":"json"}],
         |"transformations":[
         |  {"name":"standardization","type":"normalize_fields","params":{
         |    "input":"policies","output":"standardized","fields":[
         |      {"name":"driver_age","sources":["driver.age"]},
         |      {"name":"plate","sources":["vehicle.plate"]}]}},
         |  {"name":"metadata_fields","type":"add_fields","params":{
         |    "input":"standardized","output":"with_meta","fields":[
         |      {"name":"ingested_at","function":"current_timestamp"}]}},
         |  {"name":"validation","type":"validate_fields","params":{
         |    "input":"with_meta",
         |    "validations":[
         |      {"field":"driver_age","validations":["notNull","isInteger","range:18-99"]},
         |      {"field":"plate","validations":["pattern:^[A-Z]{2}-\\\\d{3}$"]},
         |      {"field":"premium","validations":["isNumeric","min:0"]},
         |      {"field":"start_date","validations":["isDate","dateBefore:end_date"]}],
         |    "ok_output":"validation_ok","ko_output":"validation_ko"}},
         |  {"name":"policy_stats","type":"compute_stats","params":{
         |    "input":"with_meta","fields":["driver_age","premium"],
         |    "include_validation_stats":true,
         |    "ok_input":"validation_ok","ko_input":"validation_ko",
         |    "output_path":"$dir/stats"}}],
         |"sinks":[
         |  {"input":"validation_ok","name":"ok","paths":["$dir/ok"],"format":"json","saveMode":"overwrite"}]
         |}]}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/meta.json"), metadata)

    val frames = RunPipeline.run(spark, s"$dir/meta.json", Some("motor-ingestion"))
    assert(frames("validation_ok").select("policy_id").as[String].collect().toSeq === Seq("P-1"))
    val koErrors = frames("validation_ko")
      .select(explode(col("validation_errors"))).as[String].collect().toSet
    assert(koErrors === Set(
      "driver_age:must_be_between_18.0_and_99.0",
      "plate:must_match_pattern",
      "start_date:must_be_before_end_date"))
    // stats JSON landed with field stats + validation summary
    val statsJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/stats/policy_stats.json")), "UTF-8")
    assert(statsJson.contains("\"stats_name\" : \"policy_stats\""))
    assert(statsJson.contains("\"field\" : \"driver_age\""))
    assert(statsJson.contains("\"validation_pass_rate\" : 50.0"))
    // ok sink written and readable
    assert(spark.read.json(s"$dir/ok").count() === 1)
  }

  test("extended transforms: filter, join (broadcast), aggregate, sql") {
    val spec =
      s"""{"dataflows":[{
         |"name":"analytics",
         |"sources":[
         |  {"name":"ord","path":"${sf()}/orders.parquet","format":"parquet"}],
         |"transformations":[
         |  {"name":"big","type":"filter","params":{
         |    "input":"ord","output":"big_orders","condition":"o_totalprice > 100000"}},
         |  {"name":"enrich","type":"join","params":{
         |    "input":"big_orders","right_input":"cust","output":"joined",
         |    "on":[],"how":"inner","broadcast":"right"}},
         |  {"name":"agg","type":"aggregate","params":{
         |    "input":"joined","output":"by_segment",
         |    "group_by":["c_mktsegment"],
         |    "aggs":[{"name":"n","expr":"count(1)"},
         |            {"name":"total","expr":"CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)"}]}},
         |  {"name":"top","type":"sql","params":{
         |    "input":"by_segment","output":"final",
         |    "query":"SELECT c_mktsegment, n, total FROM by_segment ORDER BY total DESC LIMIT 3"}}],
         |"sinks":[]}]}""".stripMargin
    // join needs a key: patch 'on' via direct spec construction instead
    val flow0 = MetaLoader.loadString(spec).dataflow("analytics")
    val flow = flow0.copy(transformations = flow0.transformations.map {
      case j: graft.meta.JoinSpec => j.copy(on = Seq("o_custkey"))
      case t => t
    })
    // align join key name: rename c_custkey -> o_custkey on the fly is
    // awkward in pure metadata; use normalize via SQL instead
    val custFixed = spark.read.parquet(sf() + "/customer.parquet")
      .withColumnRenamed("c_custkey", "o_custkey")
    val frames = Dataflow.plan(spark, flow,
      inputs = Map("cust" -> custFixed))
    val out = frames("final").collect()
    assert(out.length === 3)
    assert(out.map(_.getAs[Long]("n")).forall(_ > 0))
    // broadcast hint landed in the plan
    val plan = frames("joined").queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), s"expected broadcast join:\n$plan")
    // filter pushdown reached the scan through the metadata-built plan
    val scan = frames("big_orders").queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("o_totalprice"),
      s"expected pushed filter:\n$scan")
  }

  test("metadata-driven dedup / text_analysis / split steps compile and run") {
    val spec =
      s"""{"dataflows":[{"name":"llm",
         |  "sources":[{"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"analyze","type":"text_analysis","params":{
         |      "input":"docs","output":"scored","analyses":["quality","langid"]}},
         |    {"name":"dedup","type":"dedup","params":{
         |      "input":"scored","output":"unique","method":"exact"}},
         |    {"name":"near","type":"dedup","params":{
         |      "input":"unique","output":"cleaned","method":"ngram_jaccard","threshold":0.8}},
         |    {"name":"assign","type":"split","params":{
         |      "input":"cleaned","output":"final","train_pct":80,"val_pct":10}}
         |  ],"sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("llm"))
    val out = frames("final")
    // analysis columns appended, split assigned
    assert(out.columns.contains("quality_score") && out.columns.contains("lang_pred")
      && out.columns.contains("split"))
    // exact dedup via metadata equals the operator's own keeper count
    val direct = graft.operators.Dedup.exact(
      frames("scored"), col("text"), col("doc_id")).count()
    assert(frames("unique").count() === direct)
    // near-dup step only ever removes rows
    assert(out.count() <= frames("unique").count())
    assert(out.count() > 0)
    // plan assertions: exact dedup groups on the md5 fingerprint (no
    // raw-text shuffle key) and the near-dup drop is a left-anti join
    val plan = frames("cleaned").queryExecution.optimizedPlan.toString
    assert(plan.contains("md5"), s"expected fingerprint grouping:\n$plan")
    assert(plan.toLowerCase.contains("leftanti"), s"expected anti join:\n$plan")
    assert(!frames("unique").queryExecution.executedPlan.toString
      .contains("hashpartitioning(text#"), "raw text used as shuffle key")
  }

  test("metadata reach: dedup cluster_strategy star_repair == one_wave labels") {
    def spec(strategy: String) =
      s"""{"dataflows":[{"name":"cl",
         |  "sources":[{"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"c","type":"dedup","params":{"input":"docs","output":"c",
         |      "method":"ngram_jaccard","mode":"clusters",
         |      "cluster_strategy":"$strategy"}}],
         |  "sinks":[]}]}""".stripMargin
    def labels(strategy: String) =
      Dataflow.plan(spark, MetaLoader.loadString(spec(strategy)).dataflow("cl"))("c")
        .as[(Long, Long)].collect().toMap
    val one = labels("one_wave")
    val star = labels("star_repair")
    assert(one.nonEmpty && star === one,
      "both strategies must produce identical component labels")
    // auto (the default) resolves from the measured band-bucket skew —
    // one_wave on this ordinary corpus — and its labels coincide
    val auto = labels("auto")
    assert(auto === one, "auto must pick a strategy with identical labels")
    // exact keeps the prefix-filter no-false-negative guarantee; on
    // this corpus (certified by the dedup_minhash oracle: zero LSH
    // misses) the labels coincide with the banded strategies too
    val exact = labels("exact")
    assert(exact === one, "exact labels must coincide on this corpus")
    intercept[IllegalArgumentException] {
      Dataflow.plan(spark, MetaLoader.loadString(spec("bogus")).dataflow("cl"))
    }
    graft.operators.OpCache.releaseAll()
  }

  test("metadata reach: filtered ann (where) equals the restricted-corpus search") {
    val spec =
      s"""{"dataflows":[{"name":"fann",
         |  "sources":[{"name":"emb","path":"${sf()}/embeddings.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"q","type":"sql","params":{"input":"emb","output":"q",
         |      "query":"SELECT * FROM emb WHERE vec_id % 20 = 0"}},
         |    {"name":"nn","type":"ann","params":{
         |      "input":"emb","output":"neighbors","method":"ivf",
         |      "queries_input":"q","where":"vec_id % 3 = 1",
         |      "id":"vec_id","vec":"embedding","k":5,"nlist":16,"nprobe":16}}],
         |  "sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("fann"))
    val out = frames("neighbors").select("id", "neighbor_id")
      .as[(Long, Long)].collect()
    assert(out.nonEmpty && out.forall(_._2 % 3 == 1),
      "only vec_id%3==1 neighbors may rank")
    // a non-ivf method rejects the filter loudly
    val badSpec =
      s"""{"dataflows":[{"name":"bad",
         |  "sources":[{"name":"emb","path":"${sf()}/embeddings.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"nn","type":"ann","params":{
         |      "input":"emb","output":"n","method":"lsh",
         |      "where":"vec_id % 3 = 1","id":"vec_id","vec":"embedding","k":5}}],
         |  "sinks":[]}]}""".stripMargin
    val e = intercept[IllegalArgumentException] {
      Dataflow.plan(spark, MetaLoader.loadString(badSpec).dataflow("bad"))
    }
    assert(e.getMessage.contains("filtered ANN"))
  }

  test("metadata-driven ann step compiles, runs, and never cross-joins") {
    val spec =
      s"""{"dataflows":[{"name":"annflow",
         |  "sources":[{"name":"emb","path":"${sf()}/embeddings.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"nn","type":"ann","params":{
         |      "input":"emb","output":"neighbors","method":"lsh",
         |      "id":"vec_id","vec":"embedding","k":5}}],
         |  "sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("annflow"))
    val out = frames("neighbors")
    assert(out.columns.toSeq === Seq("id", "neighbor_id", "cos_sim", "rank"))
    assert(out.count() > 0)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"ANN metadata plan must be a bucket equi-join, not a cross join:\n$plan")
    // unknown method fails loudly
    val bad = spec.replace("\"method\":\"lsh\"", "\"method\":\"nope\"")
    intercept[IllegalArgumentException](
      Dataflow.plan(spark, MetaLoader.loadString(bad).dataflow("annflow")))
  }

  test("metadata ann queries_input: cross-frame IVF serves the query batch") {
    val spec =
      s"""{"dataflows":[{"name":"searchflow",
         |  "sources":[{"name":"emb","path":"${sf()}/embeddings.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"qs","type":"filter","params":{
         |      "input":"emb","output":"queries","condition":"vec_id % 50 = 0"}},
         |    {"name":"nn","type":"ann","params":{
         |      "input":"emb","output":"hits","method":"ivf","queries_input":"queries",
         |      "id":"vec_id","vec":"embedding","k":5,"nlist":16,"nprobe":4}}],
         |  "sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("searchflow"))
    val hits = frames("hits")
    assert(hits.columns.toSeq === Seq("id", "neighbor_id", "cos_sim", "rank"))
    import spark.implicits._
    val ids = hits.select("id").distinct().as[Long].collect().toSet
    assert(ids.nonEmpty && ids.forall(_ % 50 == 0),
      "only query-batch ids may appear as search ids")
    // a query present in the corpus ranks itself first at cos 1.0
    val self = hits.filter(col("rank") === 1)
      .select("id", "neighbor_id", "cos_sim").as[(Long, Long, Double)].collect()
    assert(self.nonEmpty && self.forall { case (q, n, c) => q == n && c > 0.999 },
      s"rank-1 must be the self-match, got ${self.take(3).toSeq}")
    // queries_input on a pair method fails loudly
    val bad = spec.replace("\"method\":\"ivf\"", "\"method\":\"lsh\"")
    intercept[IllegalArgumentException](
      Dataflow.plan(spark, MetaLoader.loadString(bad).dataflow("searchflow")))
  }

  test("metadata corpus signals: familiarity, dup_ngram_coverage, ann semdedup") {
    val spec =
      s"""{"dataflows":[{"name":"sig",
         |  "sources":[
         |    {"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"},
         |    {"name":"emb","path":"${sf()}/embeddings.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"fam","type":"familiarity","params":{
         |      "input":"docs","output":"fam_out","min_df":3}},
         |    {"name":"cov","type":"dup_ngram_coverage","params":{
         |      "input":"docs","output":"cov_out","n":5}},
         |    {"name":"sd","type":"ann","params":{
         |      "input":"emb","output":"sd_out","method":"semdedup",
         |      "id":"vec_id","vec":"embedding","nlist":16,"threshold":0.4}}],
         |  "sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("sig"))
    assert(frames("fam_out").columns.toSeq ===
      Seq("doc_id", "n_tokens", "mean_df", "oov_frac"))
    assert(frames("cov_out").columns.toSeq ===
      Seq("doc_id", "n_ngrams", "n_dup", "dup_frac"))
    assert(frames("sd_out").columns.toSeq === Seq("id", "cell", "kept"))
    val n = frames("sd_out").count()
    assert(n > 0 && n === frames("sd_out").select("id").distinct().count(),
      "semdedup emits exactly one verdict row per input vector")
    val plan = frames("sd_out").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"semdedup must pair within cells via equi-join, not cross join:\n$plan")
  }

  test("dedup metadata step: method=exact mode=pairs emits the group report frame") {
    val spec =
      s"""{"dataflows":[{"name":"d",
         |  "sources":[{"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"groups","type":"dedup","params":{
         |      "input":"docs","output":"report","method":"exact","mode":"pairs"}}],
         |  "sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("d"))
    val report = frames("report")
    assert(report.columns.toSeq === Seq("fp", "doc_id", "n_copies"))
    assert(report.count() ===
      graft.operators.Dedup.exact(frames("docs"), col("text"), col("doc_id")).count())
  }

  test("metadata reach: cluster_filter dedup, redact analysis, decontaminate") {
    val spec =
      s"""{"dataflows":[{"name":"llm2",
         |  "sources":[{"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"bench","type":"filter","params":{
         |      "input":"docs","output":"benchset","condition":"doc_id % 97 = 0"}},
         |    {"name":"clean","type":"decontaminate","params":{
         |      "input":"docs","bench_input":"benchset","output":"decon"}},
         |    {"name":"scrub","type":"text_analysis","params":{
         |      "input":"decon","output":"scrubbed","analyses":["redact"]}},
         |    {"name":"near","type":"dedup","params":{
         |      "input":"scrubbed","output":"canon","method":"ngram_jaccard",
         |      "mode":"cluster_filter","threshold":0.8}},
         |    {"name":"labels","type":"dedup","params":{
         |      "input":"scrubbed","output":"clusters","method":"ngram_jaccard",
         |      "mode":"clusters","threshold":0.8}},
         |    {"name":"window","type":"chunk","params":{
         |      "input":"canon","output":"chunks","size":200,"overlap":50}},
         |    {"name":"counted","type":"text_analysis","params":{
         |      "input":"chunks","output":"countedc","content":"chunk_text","analyses":["tokens"]}},
         |    {"name":"packed","type":"pack","params":{
         |      "input":"countedc","output":"packedc","tokens":"n_ws_tokens","budget":256,"shards":2}},
         |    {"name":"sampled","type":"stratified_sample","params":{
         |      "input":"scrubbed","output":"sampledc","strata":"lang","fractions":{"en":0.5}}}
         |  ],"sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("llm2"))
    val docs = frames("docs")
    // decontaminate step == the operator called directly
    val direct = graft.operators.Dedup.decontaminate(
      docs, col("text"), docs.filter(col("doc_id") % 97 === 0), col("text")).count()
    assert(frames("decon").count() === direct)
    assert(direct < docs.count()) // the benchmark docs match themselves
    // redact analysis appends the scrub columns
    assert(frames("scrubbed").columns.contains("text_redacted")
      && frames("scrubbed").columns.contains("n_pii"))
    // cluster labels frame has the (doc_id, cluster_id) contract and
    // cluster_filter keeps docs minus the non-canonical members
    val labels = frames("clusters")
    assert(labels.columns.toSeq === Seq("doc_id", "cluster_id"))
    val nonCanon = labels.filter(col("cluster_id") =!= col("doc_id")).count()
    assert(frames("canon").count() === frames("scrubbed").count() - nonCanon)
    assert(nonCanon > 0)
    // chunk step fans out and keeps every doc at least once
    assert(frames("chunks").columns.toSeq === Seq("doc_id", "chunk_id", "chunk_text"))
    assert(frames("chunks").select("doc_id").distinct().count() === frames("canon").count())
    // pack assigns every chunk row a (shard, seq_id)
    val packed = frames("packedc")
    assert(packed.columns.contains("shard") && packed.columns.contains("seq_id"))
    assert(packed.count() === frames("countedc").count())
    // stratified sampling thins only the configured stratum
    val scrubbed = frames("scrubbed")
    val sampled = frames("sampledc")
    assert(sampled.count() < scrubbed.count() && sampled.count() > 0)
    assert(sampled.filter(col("lang") =!= "en").count() ===
      scrubbed.filter(col("lang") =!= "en").count())
  }

  test("metadata reach: mix, search, centroids, key_histogram") {
    val spec =
      s"""{"dataflows":[{"name":"r4",
         |  "sources":[
         |    {"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"},
         |    {"name":"emb","path":"${sf()}/embeddings.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"mixed","type":"mix","params":{
         |      "input":"docs","output":"mixedc","strata":"lang"}},
         |    {"name":"found","type":"search","params":{
         |      "input":"docs","output":"hits","terms":["spark","hash"],"k":5}},
         |    {"name":"proto","type":"centroids","params":{
         |      "input":"emb","output":"protos"}},
         |    {"name":"hot","type":"key_histogram","params":{
         |      "input":"docs","output":"hotkeys","key":"lang","top_n":3}}
         |  ],"sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("r4"))
    val docs = frames("docs")
    // mix == the operator called directly
    val direct = graft.operators.Sampling.sqrtTemperatureMix(
      docs, col("lang"), col("doc_id")).count()
    assert(frames("mixedc").count() === direct && direct > 0 && direct < docs.count())
    // search returns k ranked hits
    val hits = frames("hits").select("doc_id", "score", "rank")
    assert(hits.count() === 5)
    // centroids: one row per (label, pos)
    val dim = frames("emb").select(size(col("embedding"))).first().getInt(0)
    val nLabels = frames("emb").select("label").distinct().count()
    assert(frames("protos").count() === nLabels * dim)
    // key histogram ranks the requested top-N
    val hot = frames("hotkeys").select("key", "rank").collect()
    assert(hot.length === 3 && hot.map(_.getInt(1)).sorted.toSeq === Seq(1, 2, 3))
    graft.operators.OpCache.releaseAll()
  }

  test("metadata reach: cap, quantile_gate, upsample, order, boilerplate, paragraph_dedup") {
    val spec =
      s"""{"dataflows":[{"name":"r4b",
         |  "sources":[
         |    {"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"capped","type":"cap","params":{
         |      "input":"docs","output":"cap_out","group":"source","max_n":5}},
         |    {"name":"gated","type":"quantile_gate","params":{
         |      "input":"docs","output":"gate_out","group":"source","metric":"n_chars","q":0.5}},
         |    {"name":"rep","type":"upsample","params":{
         |      "input":"docs","output":"rep_out","weight_expr":"CAST(doc_id % 3 AS INT)"}},
         |    {"name":"ord","type":"order","params":{
         |      "input":"docs","output":"ord_out","id":"doc_id","seed":"s1"}},
         |    {"name":"bp","type":"boilerplate","params":{
         |      "input":"docs","output":"bp_out","min_df":5}},
         |    {"name":"pd","type":"paragraph_dedup","params":{
         |      "input":"docs","output":"pd_out"}}
         |  ],"sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("r4b"))
    val docs = frames("docs")
    val n = docs.count()
    // cap: ≤ 5 per source
    assert(frames("cap_out").groupBy("source").count()
      .agg(max("count")).first().getLong(0) <= 5L)
    // gate: strictly fewer rows, none below its source threshold
    val gated = frames("gate_out")
    assert(gated.count() < n && gated.count() > 0)
    assert(gated.filter(col("n_chars").cast("double") < col("threshold")).count() === 0)
    // upsample: sum of weights rows (doc_id % 3 ∈ {0,1,2})
    val expectRep = docs.select(sum(col("doc_id") % 3)).first().getLong(0)
    assert(frames("rep_out").count() === expectRep)
    // order: dense permutation 1..n
    assert(frames("ord_out").agg(max("order_id")).first().getLong(0) === n)
    assert(frames("ord_out").select("order_id").distinct().count() === n)
    // boilerplate / paragraph_dedup: one row per doc, rebuild columns
    assert(frames("bp_out").count() === n)
    assert(frames("pd_out").columns.toSet ===
      Set("doc_id", "text_clean", "n_kept", "n_dropped"))
    assert(frames("pd_out").count() === n)
  }

  test("metadata reach: c4_clean transform and gopher/gopher_rep analyses") {
    val spec =
      s"""{"dataflows":[{"name":"r4c",
         |  "sources":[
         |    {"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"c4","type":"c4_clean","params":{
         |      "input":"docs","output":"c4_out","min_words":2}},
         |    {"name":"gq","type":"text_analysis","params":{
         |      "input":"docs","output":"g_out","analyses":["gopher","gopher_rep"]}}
         |  ],"sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("r4c"))
    // raw docs have no terminal punctuation → c4 keeps nothing, but the
    // transform compiles and runs with the configured min_words
    assert(frames("c4_out").columns.toSet ===
      Set("doc_id", "text_clean", "n_kept", "n_dropped"))
    val g = frames("g_out")
    assert(g.count() === frames("docs").count())
    for (c <- Seq("n_words", "gopher_keep", "frac_dup_lines", "top_bigram", "rep_keep"))
      assert(g.columns.contains(c), s"missing $c")
  }

  test("examples/corpus_pipeline.json runs end-to-end via RunPipeline --verbose") {
    val frames = RunPipeline.run(spark, "examples/corpus_pipeline.json",
      Some("corpus-clean"), inputOverride = Some(sf() + "/documents.parquet"),
      verbose = true) // verbose also exercises stage summaries for the r4 transform types
    val fin = frames("final")
    val n = fin.count()
    assert(n > 0 && n <= 20L * 20) // <= max_n per source x sources
    // dense seeded order survives the whole declarative chain
    assert(fin.agg(max("order_id")).first().getLong(0) === n)
    assert(fin.columns.contains("split"))
    // the sink landed
    assert(spark.read.parquet("/tmp/graft_example_corpus").count() === n)
  }

  test("metadata sink: saveMode erase drives a merge-on-read deletion wave from JSON, fsck-clean") {
    val t = java.nio.file.Files.createTempDirectory("graft_erase").toString + "/tbl"
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
    graft.operators.Snapshot.create(spark, t, docs, "doc_id", "source",
      statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"), bloomBits = 1 << 14)
    val before = docs.count()
    val spec =
      s"""{"dataflows":[{"name":"gdpr",
         |  "sources":[{"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"keys","type":"sql","params":{"input":"docs","output":"keys",
         |      "query":"SELECT doc_id FROM docs WHERE doc_id % 5 = 0"}}],
         |  "sinks":[{"input":"keys","name":"wave","paths":["$t"],
         |    "format":"parquet","saveMode":"erase"}]}]}""".stripMargin
    graft.Dataflow.run(spark, MetaLoader.loadString(spec).dataflow("gdpr"))
    // one deletion-vector commit: zero data files rewritten, rows masked
    val m2 = graft.operators.Snapshot.readManifest(t, 2)
    assert(m2.op == "delete-mor" &&
      m2.files.map(_.path).toSet ==
        graft.operators.Snapshot.readManifest(t, 1).files.map(_.path).toSet)
    val left = graft.operators.Snapshot.readLatest(spark, t)
    assert(left.filter(col("doc_id") % 5 === 0).count() == 0)
    assert(left.count() == before - docs.filter(col("doc_id") % 5 === 0).count())
    assert(graft.operators.Snapshot.fsck(spark, t).isEmpty)
    // a non-snapshot target is rejected loudly
    val badSpec = spec.replace(s"""["$t"]""", s"""["$t-nope"]""")
    intercept[IllegalArgumentException] {
      graft.Dataflow.run(spark, MetaLoader.loadString(badSpec).dataflow("gdpr"))
    }
  }

  test("metadata sink: snapshot audit block runs merges write-audit-publish") {
    val t = java.nio.file.Files.createTempDirectory("graft_wap").toString + "/tbl"
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
    graft.operators.Snapshot.create(spark, t, docs, "doc_id", "source")
    val total = docs.count()
    def spec(floor: Long) =
      s"""{"dataflows":[{"name":"wave",
         |  "sources":[{"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"chg","type":"sql","params":{"input":"docs","output":"chg",
         |      "query":"SELECT doc_id, text, lang, source, n_chars, doc_id % 2 = 0 AS __deleted FROM docs WHERE doc_id % 10 = 0"}}],
         |  "sinks":[{"input":"chg","name":"s","paths":["$t"],
         |    "format":"parquet","saveMode":"snapshot","mergeKey":"doc_id",
         |    "partitionBy":["source"],"audit":["row_count:$floor-100000000"]}]}]}""".stripMargin
    // the change wave deletes doc_id%10==0 evens: a floor ABOVE the
    // post-state rows must abort the staged merge
    intercept[graft.operators.Snapshot.ExpectationViolationException] {
      graft.Dataflow.run(spark, MetaLoader.loadString(spec(total)).dataflow("wave"))
    }
    assert(graft.operators.Snapshot.currentVersion(t) == 1)
    // a satisfiable floor publishes the same wave
    graft.Dataflow.run(spark, MetaLoader.loadString(spec(1L)).dataflow("wave"))
    assert(graft.operators.Snapshot.currentVersion(t) == 2)
    val left = graft.operators.Snapshot.readLatest(spark, t)
    assert(left.filter(col("doc_id") % 10 === 0 && col("doc_id") % 2 === 0).count() == 0)
  }

  test("metadata sink: composite + transformed partition specs create through the JSON batch sink, and keyed merges land by TUPLE (r15 VERDICT #3)") {
    val t = java.nio.file.Files.createTempDirectory("graft_mkjson").toString + "/tbl"
    // first wave CREATES the table: composite key "lang,doc_id",
    // partition spec mixing an identity column with a bucket
    // transform — exactly what the stream sink and SQL catalog
    // accept, now through the reference-idiom JSON surface
    def spec(where: String) =
      s"""{"dataflows":[{"name":"mk",
         |  "sources":[{"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"chg","type":"sql","params":{"input":"docs","output":"chg",
         |      "query":"$where"}}],
         |  "sinks":[{"input":"chg","name":"s","paths":["$t"],
         |    "format":"parquet","saveMode":"snapshot",
         |    "mergeKey":"lang,doc_id",
         |    "partitionBy":["source","bucket(4,doc_id)"]}]}]}""".stripMargin
    graft.Dataflow.run(spark, MetaLoader.loadString(spec(
      "SELECT doc_id, text, lang, source, n_chars FROM docs")).dataflow("mk"))
    val m = graft.operators.Snapshot.readManifest(t, 1)
    assert(m.keys == Seq("lang", "doc_id"))
    assert(m.partitionCols == Seq("source", "bucket(4,doc_id)"))
    assert(m.partitions.keySet.forall(_.contains("~")))
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val before = docs.count()
    // second wave MERGES by tuple: revise doc_id%7==1 in place,
    // delete doc_id%11==3
    graft.Dataflow.run(spark, MetaLoader.loadString(spec(
      "SELECT doc_id, concat(text, ' [v2]') AS text, lang, source, " +
        "n_chars + 1 AS n_chars, doc_id % 11 = 3 AS __deleted " +
        "FROM docs WHERE doc_id % 7 = 1 OR doc_id % 11 = 3")).dataflow("mk"))
    assert(graft.operators.Snapshot.currentVersion(t) == 2)
    val got = graft.operators.Snapshot.readLatest(spark, t)
    assert(got.filter(col("doc_id") % 11 === 3).count() == 0)
    val revised = got.filter(col("doc_id") % 7 === 1)
    assert(revised.count() > 0 &&
      revised.filter(!col("text").endsWith(" [v2]")).count() == 0)
    assert(got.count() ==
      before - docs.filter(col("doc_id") % 11 === 3).count())
    // a composite-tuple point read prunes through the bucket transform
    val someId = docs.filter(col("doc_id") % 7 === 1 && col("doc_id") % 11 =!= 3)
      .select("doc_id").head().getLong(0)
    val (kept, total) = graft.operators.Snapshot.prune(t,
      Seq(graft.operators.Snapshot.InPred("doc_id", Seq(someId))))
    assert(kept.size < total)
  }

  test("metadata sink: evolve block migrates an existing snapshot target idempotently") {
    val t = java.nio.file.Files.createTempDirectory("graft_evo").toString + "/tbl"
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
    graft.operators.Snapshot.create(spark, t, docs, "doc_id", "source")
    // the wave speaks the POST-evolution schema (body, no lang)
    def spec(evolve: String) =
      s"""{"dataflows":[{"name":"wave",
         |  "sources":[{"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"chg","type":"sql","params":{"input":"docs","output":"chg",
         |      "query":"SELECT doc_id, text || ' [mig]' AS body, source, n_chars FROM docs WHERE doc_id % 50 = 0"}}],
         |  "sinks":[{"input":"chg","name":"s","paths":["$t"],
         |    "format":"parquet","saveMode":"snapshot","mergeKey":"doc_id",
         |    "partitionBy":["source"]$evolve}]}]}""".stripMargin
    val evolveBlock = ""","evolve":["rename:text->body","drop:lang"]"""
    // without the migration the wave cannot land (upserts lack 'text')
    intercept[IllegalArgumentException] {
      graft.Dataflow.run(spark, MetaLoader.loadString(spec("")).dataflow("wave"))
    }
    graft.Dataflow.run(spark,
      MetaLoader.loadString(spec(evolveBlock)).dataflow("wave"))
    // v2 rename + v3 drop + v4 merge
    assert(graft.operators.Snapshot.currentVersion(t) == 4)
    val now = graft.operators.Snapshot.readLatest(spark, t)
    assert(now.columns.toSeq === Seq("doc_id", "body", "source", "n_chars"))
    assert(now.filter(col("body").endsWith(" [mig]")).count() ==
      docs.filter(col("doc_id") % 50 === 0).count())
    // RE-RUN with the same JSON: both steps detect already-applied and
    // skip — only the merge commits (the scheduled-pipeline contract)
    graft.Dataflow.run(spark,
      MetaLoader.loadString(spec(evolveBlock)).dataflow("wave"))
    assert(graft.operators.Snapshot.currentVersion(t) == 5)
    // a typo'd step stops the pipeline loudly instead of no-opping
    intercept[IllegalArgumentException] {
      graft.Dataflow.run(spark, MetaLoader.loadString(
        spec(""","evolve":["rename:nope->x"]""")).dataflow("wave"))
    }
  }

  test("evolve rename skips when the target exists even after the old name is re-added") {
    val t = java.nio.file.Files.createTempDirectory("graft_evo2").toString + "/tbl"
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "source", "n_chars")
    graft.operators.Snapshot.create(spark, t, docs, "doc_id", "source")
    graft.operators.Snapshot.renameColumn(spark, t, "text", "body")
    // a later additive merge RE-ADDS a column named 'text' (maps to a
    // fresh physical name — the anti-zombie rule)
    graft.operators.Snapshot.merge(spark, t,
      graft.operators.Snapshot.readLatest(spark, t).limit(1)
        .withColumn("text", lit("readd")),
      docs.limit(0).select("doc_id"))
    // the pipeline still carries its original migration; has(from) is
    // true again, but has(to) must win — skip, then merge normally
    val spec =
      s"""{"dataflows":[{"name":"wave",
         |  "sources":[{"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"chg","type":"sql","params":{"input":"docs","output":"chg",
         |      "query":"SELECT doc_id, text || ' [w]' AS body, source, n_chars, CAST(NULL AS STRING) AS text FROM docs WHERE doc_id % 100 = 1"}}],
         |  "sinks":[{"input":"chg","name":"s","paths":["$t"],
         |    "format":"parquet","saveMode":"snapshot","mergeKey":"doc_id",
         |    "partitionBy":["source"],"evolve":["rename:text->body"]}]}]}""".stripMargin
    graft.Dataflow.run(spark, MetaLoader.loadString(spec).dataflow("wave"))
    val m = graft.operators.Snapshot.readManifest(t,
      graft.operators.Snapshot.currentVersion(t))
    assert(m.op === "merge", "the skipped rename must not commit a version")
    assert(m.columnMap("body") === "text",
      "the original mapping must be untouched by the skip")
  }

  test("shipped example specs parse: incremental_refresh, scheduled_delta") {
    // these compose ${run_date} templates + /data paths, so they can't
    // execute here — but every transform/sink must RESOLVE (a typo'd
    // type or param in a shipped example is a user-facing break)
    for (f <- Seq("examples/incremental_refresh.json",
                  "examples/scheduled_delta.json",
                  "examples/versioned_corpus.json",
                  "examples/gdpr_erasure.json",
                  "examples/schema_migration.json")) {
      val p = MetaLoader.loadFile(f)
      assert(p.schedule.isDefined, s"$f: schedule block must parse")
      val flows = p.dataflows
      assert(flows.nonEmpty && flows.forall(_.transformations.nonEmpty), f)
    }
    // the r7 agg_maintain sink in incremental_refresh carries its
    // group/sum columns through the parser
    val refresh = MetaLoader.loadFile("examples/incremental_refresh.json")
    val aggSink = refresh.dataflows.head.sinks.find(_.saveMode == "agg_maintain")
    assert(aggSink.isDefined, "incremental_refresh must ship an agg_maintain sink")
    assert(aggSink.get.aggGroupBy === Seq("lang"))
    assert(aggSink.get.aggSums === Seq("n_chars"))
    // the r8 snapshot sink/source in versioned_corpus carries its
    // layout + stats columns and the pinned-version source option
    val versioned = MetaLoader.loadFile("examples/versioned_corpus.json")
    val snapSink = versioned.dataflows.head.sinks.find(_.saveMode == "snapshot")
    assert(snapSink.isDefined, "versioned_corpus must ship a snapshot sink")
    assert(snapSink.get.statsCols === Seq("doc_id", "n_chars"))
    assert(snapSink.get.layout === "zorder" &&
      snapSink.get.layoutKeys === Seq("doc_id", "n_chars"))
    assert(snapSink.get.constraints ===
      Map("doc_id_present" -> "doc_id IS NOT NULL",
        "chars_positive" -> "n_chars > 0"))
    assert(snapSink.get.guards ===
      Map("min_rows" -> "1000", "max_shrink_pct" -> "20"))
    assert(snapSink.get.snapshotTag === "corpus-${run_date}")
    // the r8 delivery/post-state gates ride the sink spec
    assert(snapSink.get.expects === Seq("unique:doc_id", "null_bp:text:0"))
    assert(snapSink.get.audit ===
      Seq("min_per_group:lang:100", "row_count:1000-500000000"))
    // the r8 erasure example ships a saveMode=erase sink
    val erasure = MetaLoader.loadFile("examples/gdpr_erasure.json")
    val eraseSink = erasure.dataflows.head.sinks.head
    assert(eraseSink.saveMode === "erase" &&
      eraseSink.snapshotTag === "erasure-${run_date}")
    val gate = versioned.dataflows.head.transformations.collectFirst {
      case e: graft.meta.ExpectSpec => e }
    assert(gate.exists(_.failOnViolation),
      "the change set must be gated by a failing expect transform")
    // the r9 migration example carries its evolve steps through the parser
    val migration = MetaLoader.loadFile("examples/schema_migration.json")
    val migSink = migration.dataflows.head.sinks.head
    assert(migSink.evolve === Seq("rename:url->source_url",
      "drop:raw_score", "widen:page_views:bigint"))
    val pinned = versioned.dataflows(1).sources.head
    assert(pinned.format === "snapshot" &&
      pinned.options("tag") === "corpus-2026-08-07")
  }

  test("metadata reach: rrf, scd2, pagerank compile to the same plans as the direct API") {
    val spec =
      s"""{"dataflows":[{"name":"r7x",
         |  "sources":[
         |    {"name":"ev","path":"${sf()}/events.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"hist","type":"scd2","params":{"input":"ev",
         |      "output":"hist","key":"user_id","ts":"ts",
         |      "attr":"event_type","tie":"event_id"}},
         |    {"name":"edges","type":"sql","params":{"input":"ev","output":"edges",
         |      "query":"SELECT CAST(user_id AS STRING) AS src, event_type AS dst FROM ev UNION ALL SELECT event_type, CAST(user_id AS STRING) FROM ev"}},
         |    {"name":"pr","type":"pagerank","params":{"input":"edges",
         |      "output":"pr","iterations":3}},
         |    {"name":"la","type":"sql","params":{"input":"ev","output":"la",
         |      "query":"SELECT user_id AS doc_id, CAST(ROW_NUMBER() OVER (ORDER BY user_id) AS INT) AS rank FROM (SELECT DISTINCT user_id FROM ev) LIMIT 5"}},
         |    {"name":"lb","type":"sql","params":{"input":"ev","output":"lb",
         |      "query":"SELECT user_id AS doc_id, CAST(ROW_NUMBER() OVER (ORDER BY user_id DESC) AS INT) AS rank FROM (SELECT DISTINCT user_id FROM ev) LIMIT 5"}},
         |    {"name":"fused","type":"rrf","params":{"output":"fused",
         |      "ranked_inputs":["la","lb"],"top_k":4}}],
         |  "sinks":[]}]}""".stripMargin
    val frames = Dataflow.run(spark,
      graft.meta.MetaLoader.loadString(spec).dataflow("r7x"))
    val ev = spark.read.parquet(sf() + "/events.parquet")
    val wantHist = graft.operators.Versioning.scd2(ev, col("user_id"),
      col("ts"), col("event_type"), col("event_id"))
    assert(frames("hist").collect().toSet == wantHist.collect().toSet)
    val pr = frames("pr").as[(String, Long)].collect().toMap
    val wantEdges = ev.selectExpr("CAST(user_id AS STRING) AS src",
        "event_type AS dst")
      .unionByName(ev.selectExpr("event_type AS src",
        "CAST(user_id AS STRING) AS dst"))
    val wantPr = graft.operators.Graph.pageRank(wantEdges, 3)
      .as[(String, Long)].collect().toMap
    assert(pr == wantPr)
    val fused = frames("fused").select("doc_id", "rank")
      .as[(Long, Int)].collect().toSet
    assert(fused.size == 4 && fused.map(_._2) == Set(1, 2, 3, 4))
    graft.operators.OpCache.releaseAll()
  }

  test("metadata reach: sentences, normalize_text, take") {
    val spec =
      s"""{"dataflows":[{"name":"r4d",
         |  "sources":[
         |    {"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"sent","type":"sentences","params":{
         |      "input":"docs","output":"s_out"}},
         |    {"name":"norm","type":"normalize_text","params":{
         |      "input":"docs","output":"n_out","strip_punct":true}},
         |    {"name":"sub","type":"take","params":{
         |      "input":"docs","output":"t_out","n":42,"seed":"z"}}
         |  ],"sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("r4d"))
    // raw docs have no boundaries → one sentence per doc
    assert(frames("s_out").count() === frames("docs").count())
    assert(frames("s_out").columns.toSet === Set("doc_id", "sent_id", "sentence"))
    assert(frames("n_out").columns.contains("text_norm"))
    assert(frames("t_out").count() === 42)
  }

  test("metadata reach: ivf_pq ann never cross-joins, returns ranked rows") {
    val spec =
      s"""{"dataflows":[{"name":"r5pq",
         |  "sources":[
         |    {"name":"emb","path":"${sf()}/embeddings.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"nn","type":"ann","params":{
         |      "input":"emb","output":"nnc","method":"ivf_pq","k":3,"nlist":8}}
         |  ],"sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("r5pq"))
    val plan = frames("nnc").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"ivf_pq must candidate via the cell equi-join, not a cross join:\n$plan")
    val out = frames("nnc")
    assert(out.columns.toSeq === Seq("id", "neighbor_id", "adc_dist", "rank"))
    val ranks = out.filter(col("rank") > 3).count()
    assert(ranks === 0 && out.count() > 0)
    graft.operators.OpCache.releaseAll()
  }

  test("metadata sink: zorder layout clusters files on both keys") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_zsink").toString
    val spec =
      s"""{"dataflows":[{"name":"r5z",
         |  "sources":[
         |    {"name":"ord","path":"${sf()}/orders.parquet","format":"parquet"}],
         |  "transformations":[],
         |  "sinks":[{"input":"ord","name":"zsink","paths":["$tmp/z"],
         |    "format":"parquet","saveMode":"overwrite",
         |    "layout":"zorder","layoutKeys":["o_orderkey","o_custkey"],
         |    "layoutPartitions":4}]}]}""".stripMargin
    val flow = MetaLoader.loadString(spec).dataflow("r5z")
    Dataflow.run(spark, flow)
    val files = new java.io.File(s"$tmp/z").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 2, s"expected multiple z files, got ${files.length}")
    assert(spark.read.parquet(s"$tmp/z").count() ===
      spark.read.parquet(sf() + "/orders.parquet").count())
  }

  test("metadata reach: fuzzy transform emits blocked edit-distance pairs") {
    val spec =
      """{"dataflows":[{"name":"r5f","sources":[],
        |  "transformations":[
        |    {"name":"pairs","type":"fuzzy","params":{
        |      "input":"recs","output":"pairsc","key":"name","id":"rid",
        |      "block_prefix":4,"max_dist":1}}
        |  ],"sinks":[]}]}""".stripMargin
    val recs = Seq((1L, "smith-a"), (2L, "smith-b"), (3L, "smith-xx"),
      (4L, "jones-a")).toDF("rid", "name")
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("r5f"),
      inputs = Map("recs" -> recs))
    val out = frames("pairsc").select("id_a", "id_b", "dist")
      .as[(Long, Long, Int)].collect().toSet
    // 1-2 differ by one char; 3 is 2+ edits away; 4 is in another block
    assert(out === Set((1L, 2L, 1)))
  }

  test("metadata reach: classify, version_delta, script analysis") {
    val spec =
      s"""{"dataflows":[{"name":"r5",
         |  "sources":[
         |    {"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"}],
         |  "transformations":[
         |    {"name":"old_docs","type":"filter","params":{
         |      "input":"docs","output":"olds","condition":"doc_id % 2 = 0"}},
         |    {"name":"scored","type":"classify","params":{
         |      "input":"docs","output":"scoredc","buckets":512,"bias":2}},
         |    {"name":"delta","type":"version_delta","params":{
         |      "input":"olds","new_input":"docs","output":"deltac"}},
         |    {"name":"scripts","type":"text_analysis","params":{
         |      "input":"docs","output":"scriptc","analyses":["script"]}}
         |  ],"sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("r5"))
    val docs = frames("docs")
    // classify == direct operator call with the same synthetic model
    val direct = graft.operators.Scoring.classifyQuality(
      docs, col("text"), graft.operators.Scoring.syntheticWeights(512), bias = 2L)
      .select("doc_id", "logit").collect().toSet
    assert(frames("scoredc").select("doc_id", "logit").collect().toSet === direct)
    // every doc in `docs` but not in `olds` must be "added"; evens unchanged
    val st = frames("deltac").groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st("added") === docs.filter(col("doc_id") % 2 === 1).count())
    assert(st("unchanged") === docs.filter(col("doc_id") % 2 === 0).count())
    assert(!st.contains("removed") && !st.contains("updated"))
    // script analysis appends the profile columns
    assert(frames("scriptc").columns.toSeq.takeRight(3) ===
      Seq("n_nonspace", "main_script", "main_frac"))
  }

  test("sketch-persisting flow from JSON: per-group HLL/DDSketch parquet round-trip, union == global") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sketch_flow").toString
    val spec =
      s"""{"dataflows":[{
         |"name":"sketches",
         |"sources":[{"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"}],
         |"transformations":[
         |  {"name":"per_source","type":"aggregate","params":{
         |    "input":"docs","output":"sk",
         |    "group_by":["source"],
         |    "aggs":[
         |      {"name":"doc_sketch","expr":"hll_sketch(doc_id)"},
         |      {"name":"len_sketch","expr":"dd_sketch(n_chars)"},
         |      {"name":"n","expr":"count(1)"}]}}],
         |"sinks":[
         |  {"input":"sk","name":"skSink","paths":["$dir/sk"],"format":"parquet","saveMode":"overwrite"}]
         |}]}""".stripMargin
    Dataflow.run(spark, MetaLoader.loadString(spec).dataflow("sketches"))
    // the scheduled-pipeline shape: per-partition sketches persisted as
    // COLUMN VALUES, then merged downstream without touching raw data
    graft.functions.GraftFunctions.register(spark)
    val persisted = spark.read.parquet(s"$dir/sk")
    persisted.createOrReplaceTempView("persisted_sketches")
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    docs.createOrReplaceTempView("sketch_docs")
    val merged = spark.sql(
      """SELECT hll_estimate(hll_union(doc_sketch)) AS nd,
        |       dd_quantile(dd_union(len_sketch), 0.5) AS med
        |FROM persisted_sketches""".stripMargin).head()
    val global = spark.sql(
      """SELECT hll_estimate(hll_sketch(doc_id)) AS nd,
        |       dd_quantile(dd_sketch(n_chars), 0.5) AS med
        |FROM sketch_docs""".stripMargin).head()
    // mergeability contract: union of persisted per-group sketches IS
    // the global sketch (same estimate, not merely close)
    assert(merged.getLong(0) === global.getLong(0))
    assert(merged.getDouble(1) === global.getDouble(1))
    val exact = docs.select(countDistinct(col("doc_id"))).head().getLong(0)
    assert(math.abs(merged.getLong(0) - exact).toDouble / exact <= 0.05)
  }

  test("round-5 transforms from JSON: weighted_sample, lm_score, bpe_tokenize, jw fuzzy, entropy") {
    val spec =
      s"""{"dataflows":[{
         |"name":"r5",
         |"sources":[
         |  {"name":"docs","path":"${sf()}/documents.parquet","format":"parquet"},
         |  {"name":"cust","path":"${sf()}/customer.parquet","format":"parquet"}],
         |"transformations":[
         |  {"name":"ws","type":"weighted_sample","params":{
         |    "input":"docs","output":"sampled","n":40,"weight":"n_chars","seed":"ws"}},
         |  {"name":"lm","type":"lm_score","params":{
         |    "input":"docs","output":"scored","min_count":2}},
         |  {"name":"bpe","type":"bpe_tokenize","params":{
         |    "input":"docs","output":"tokenized","num_merges":50}},
         |  {"name":"ent","type":"text_analysis","params":{
         |    "input":"docs","output":"entropic","analyses":["entropy"]}},
         |  {"name":"jw","type":"fuzzy","params":{
         |    "input":"cust","output":"jw_pairs","key":"c_name","id":"c_custkey",
         |    "block_prefix":12,"method":"jaro_winkler","min_sim":0.98}},
         |  {"name":"ss","type":"substring_dedup","params":{
         |    "input":"docs","output":"span_deduped","window":8}}],
         |"sinks":[]
         |}]}""".stripMargin
    val frames = Dataflow.run(spark, MetaLoader.loadString(spec).dataflow("r5"))
    assert(frames("sampled").count() === 40)
    val scored = frames("scored")
    assert(scored.columns.toSet === Set("doc_id", "n_bigrams", "bits_per_token", "ppl"))
    assert(scored.filter(col("ppl").isNotNull).count() === frames("docs").count())
    val toks = frames("tokenized").select("bpe_tokens").first().getSeq[String](0)
    assert(toks.nonEmpty)
    assert(frames("entropic").columns.contains("char_entropy"))
    assert(frames("jw_pairs").columns.toSeq ===
      Seq("id_a", "id_b", "key_a", "key_b", "sim"))
    assert(frames("jw_pairs").count() > 0)
    val ss = frames("span_deduped")
    assert(ss.columns.toSet === Set("doc_id", "n_tokens", "n_removed", "text_dedup"))
    assert(ss.count() === frames("docs").count())
  }

  test("RunPipeline stage summary: one [stage] line per source + output, with counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_verbose").toString
    Seq("""{"id":1,"v":"x"}""", """{"id":2,"v":""}""")
      .toDS().coalesce(1).write.mode("overwrite").text(s"$dir/in")
    val spec =
      s"""{"dataflows":[{"name":"vb",
         |"sources":[{"name":"raw","path":"$dir/in","format":"json"}],
         |"transformations":[
         |  {"name":"val","type":"validate_fields","params":{"input":"raw",
         |    "validations":[{"field":"v","validations":["notEmpty"]}],
         |    "ok_output":"ok","ko_output":"ko"}}],
         |"sinks":[]}]}""".stripMargin
    val flow = MetaLoader.loadString(spec).dataflow("vb")
    val frames = Dataflow.plan(spark, flow)
    val lines = RunPipeline.stageSummary(flow, frames)
    assert(lines.forall(_.startsWith("[stage] ")))
    assert(lines.exists(_.matches(
      """\[stage\] source 'raw' \(json\): 2 rows, cols=\[.*\]""")), lines.mkString("\n"))
    assert(lines.exists(_.matches(
      """\[stage\] val \(Validate\) -> 'ok': 1 rows, cols=\[.*\]""")), lines.mkString("\n"))
    assert(lines.exists(_.matches(
      """\[stage\] val \(Validate\) -> 'ko': 1 rows, cols=\[.*\]""")), lines.mkString("\n"))
  }

  test("empty source glob fails fast with a FileNotFoundError-style message") {
    val spec =
      """{"dataflows":[{"name":"x",
        |  "sources":[{"name":"src","path":"/tmp/graft_no_such_dir/*.json","format":"json"}],
        |  "transformations":[],"sinks":[]}]}""".stripMargin
    val flow = MetaLoader.loadString(spec).dataflow("x")
    val e = intercept[java.io.FileNotFoundException](Dataflow.plan(spark, flow))
    assert(e.getMessage.contains("matched no files") && e.getMessage.contains("src"),
      s"unexpected message: ${e.getMessage}")
  }

  test("unknown transformation type fails loudly") {
    val bad = """{"dataflows":[{"name":"x","sources":[],"transformations":[
                |{"name":"t","type":"frobnicate","params":{"input":"a"}}],"sinks":[]}]}""".stripMargin
    intercept[IllegalArgumentException](MetaLoader.loadString(bad))
  }

  test("stats ops: single-pass field stats match a manual count") {
    val df = Seq((1, Some(1.0)), (2, None), (3, Some(3.0))).toDF("id", "v")
    val st = graft.operators.StatsOp.fieldStats(df, Seq("v")).collect().head
    assert(st.getAs[Long]("null_count") === 1L)
    assert(st.getAs[Long]("non_null_count") === 2L)
    assert(st.getAs[Long]("distinct_count") === 2L)
    assert(st.getAs[Double]("min_num") === 1.0)
    assert(st.getAs[Double]("max_num") === 3.0)
  }

  test("fieldStats scan count follows the exact-distinct size switch: " +
    "2 scans above the split bound (base agg + unpivoted distinct), " +
    "1 + N column-pruned scans below") {
    val df = spark.read.parquet(sf() + "/lineitem.parquet")
    val fields = Seq("l_quantity", "l_discount", "l_tax", "l_orderkey")
    def scansOf(bound: String) = {
      spark.conf.set(graft.operators.StatsOp.SplitDistinctMaxBytesConf, bound)
      try graft.operators.StatsOp.fieldStats(df, fields)
        .queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
            if l.getClass.getSimpleName == "LogicalRelation" => l }
      finally spark.conf.unset(graft.operators.StatsOp.SplitDistinctMaxBytesConf)
    }
    // above the bound: base aggregate + ONE unpivoted (field, value)
    // distinct scan (r17 — replaced the one-scan multi-distinct Expand
    // plan, which multiplied every row ×(N+1) into a single wide agg)
    assert(scansOf("1").size === 2,
      "expected base agg + unpivoted-distinct scans")
    // below: the base aggregate + one column-pruned scan per field
    assert(scansOf("1g").size === 1 + fields.size,
      "expected 1 base + N per-field distinct scans")
  }

  test("fieldStats handles a true DATE column (epoch-second min/max)") {
    val df = Seq("2020-01-02", "2021-03-04", "2019-12-31")
      .toDF("s").select(to_date(col("s")).as("d"))
    assert(df.schema("d").dataType ===
      org.apache.spark.sql.types.DateType)
    val st = graft.operators.StatsOp.fieldStats(df, Seq("d")).collect().head
    // session TZ is UTC → 2019-12-31 = 18261 days × 86400
    assert(st.getAs[Double]("min_num") === 18261.0 * 86400)
    assert(st.getAs[Double]("max_num") === 18690.0 * 86400)
    assert(st.getAs[String]("min_value") === "2019-12-31")
  }

  test("fieldStats auto-switches distinct counting to HLL above the size threshold") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Join}
    val df = spark.read.parquet(sf() + "/lineitem.parquet")
    def planOf(thresholdBytes: Long) = {
      spark.conf.set(graft.operators.StatsOp.ApproxThresholdConf, thresholdBytes.toString)
      try graft.operators.StatsOp.fieldStats(df, Seq("l_orderkey"))
        .queryExecution.optimizedPlan
      finally spark.conf.unset(graft.operators.StatsOp.ApproxThresholdConf)
    }
    val smallPlan = planOf(1L)         // everything is "big" → HLL
    val largePlan = planOf(1L << 40)   // everything is "small" → exact
    val (small, large) = (smallPlan.toString, largePlan.toString)
    assert(small.contains("approx_count_distinct"), s"expected HLL plan:\n$small")
    // exact path: distinct counts come from `__v`-keyed value
    // aggregates (per field below the split bound, unpivoted above
    // it), broadcast-joined back onto the wide aggregate — never
    // approximate, and since r17 never the multi-distinct Expand
    val valueAggJoins = largePlan.collect {
      case j: Join if j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) &&
          j.right.exists {
            case a: Aggregate =>
              a.groupingExpressions.exists(_.references.exists(_.name == "__v"))
            case _ => false
          } => j
    }
    assert(!large.contains("approx_count_distinct") && valueAggJoins.nonEmpty,
      s"expected __v value aggregates broadcast-joined back:\n$large")
    assert(!large.contains("Expand"),
      s"exact path must never plan the multi-distinct Expand:\n$large")
    // the HLL plan must stay a single pass: no Expand, no side
    // aggregate joined back
    assert(!small.contains("Expand") && smallPlan.collect { case j: Join => j }.isEmpty,
      s"HLL path should be one aggregate pass:\n$small")
  }

  test("metadata dedup mode=keep_best: best-scored cluster member survives") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kb_meta").toString
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", 0.2),
      (2L, "the quick brown fox jumps over the lazy dog today indeed", 0.9),
      (3L, "completely unrelated text about something else entirely", 0.5))
      .toDF("doc_id", "text", "quality")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/docs")
    val spec =
      s"""{"dataflows":[{"name":"kb",
         |  "sources":[{"name":"docs","path":"$dir/docs","format":"parquet"}],
         |  "transformations":[
         |    {"name":"kb","type":"dedup","params":{
         |      "input":"docs","output":"out","method":"ngram_jaccard",
         |      "threshold":0.7,"mode":"keep_best","score":"quality"}}],
         |  "sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("kb"))
    val kept = frames("out").select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L),
      s"doc 2 (higher quality) must outlive its near-dup 1, got $kept")
  }

  test("metadata top_spans: the planted repeated window leads the report") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ts_meta").toString
    val boiler = "one two three four five six seven eight"
    Seq(
      (1L, s"intro words $boiler trailing a"),
      (2L, s"other start $boiler trailing b"),
      (3L, s"third lead-in $boiler more"),
      (4L, "totally different words with no repeated window at all here"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/docs")
    val spec =
      s"""{"dataflows":[{"name":"ts",
         |  "sources":[{"name":"docs","path":"$dir/docs","format":"parquet"}],
         |  "transformations":[
         |    {"name":"ts","type":"top_spans","params":{
         |      "input":"docs","output":"out","window":8,"k":2}}],
         |  "sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("ts"))
    val top = frames("out").orderBy(col("n_inst").desc, col("span"))
      .as[(String, Long, Long)].collect()
    assert(top.head === ((boiler, 3L, 3L)), s"got ${top.head}")
  }

  test("metadata key_histogram method=cms ranks the hot key first") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cms_meta").toString
    ((1 to 50).map(_ => "hot") ++ (1 to 10).map(i => s"cold$i"))
      .toDF("k").coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
    val spec =
      s"""{"dataflows":[{"name":"kh",
         |  "sources":[{"name":"in","path":"$dir/in","format":"parquet"}],
         |  "transformations":[
         |    {"name":"kh","type":"key_histogram","params":{
         |      "input":"in","output":"out","key":"k","top_n":3,"method":"cms"}}],
         |  "sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("kh"))
    val rows = frames("out").as[(String, Long)].collect()
    assert(rows.length === 3)
    assert(rows.head._1 === "hot" && rows.head._2 >= 50L,
      s"CMS never underestimates; got ${rows.head}")
  }

  test("metadata quantize: int8 store columns, reconstruction within scale/2") {
    val dir = java.nio.file.Files.createTempDirectory("graft_q8_meta").toString
    Seq((1L, Array(0.5f, -1.0f, 0.25f)), (2L, Array(2.0f, 0.0f, -2.0f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/emb")
    val spec =
      s"""{"dataflows":[{"name":"qz",
         |  "sources":[{"name":"emb","path":"$dir/emb","format":"parquet"}],
         |  "transformations":[
         |    {"name":"qz","type":"quantize","params":{
         |      "input":"emb","output":"out"}}],
         |  "sinks":[]}]}""".stripMargin
    val frames = Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("qz"))
    val out = frames("out")
    assert(out.schema("q").dataType.simpleString === "array<tinyint>",
      "the store must actually be int8")
    val rows = out.as[(Long, Double, Seq[Byte])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val (s1, q1) = rows(1L)
    assert(math.abs(q1(0) * s1 - 0.5) <= s1 / 2 + 1e-12)
    assert(math.abs(q1(1) * s1 + 1.0) <= s1 / 2 + 1e-12)
    assert(rows(2L)._1 === 2.0 / 127.0)
  }

  test("metadata compute_stats distinct_mode=approx_portable matches exact here") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dm_meta").toString
    (1L to 200L).map(i => (i, s"v${i % 40}")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
    def statsWith(mode: String): Map[String, Long] = {
      val spec =
        s"""{"dataflows":[{"name":"st",
           |  "sources":[{"name":"in","path":"$dir/in","format":"parquet"}],
           |  "transformations":[
           |    {"name":"st","type":"compute_stats","params":{
           |      "input":"in","fields":["v"],"distinct_mode":"$mode"}}],
           |  "sinks":[]}]}""".stripMargin
      Dataflow.plan(spark, MetaLoader.loadString(spec).dataflow("st"))("st_fields")
        .select("field", "distinct_count").as[(String, Long)].collect().toMap
    }
    // 40 distinct values: far below the HLL's ±2% envelope at p=12 —
    // the portable estimate must equal the exact count here, proving
    // the declarative switch reaches the portable sketch
    assert(statsWith("exact")("v") === 40L)
    assert(statsWith("approx_portable")("v") === 40L)
  }

  test("join cardinality pre-flight: cms_join_size hint logs, plan unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_join_hint").toString
    // two keyed frames: keys 1..20 on the left (key 1 hot ×10),
    // keys 1..5 on the right ×4 — true inner-join size 10*4 + 4*4 = 56
    val left = ((1 to 10).map(_ => 1L) ++ (2L to 20L)).toDF("k")
    val right = (1L to 5L).flatMap(k => Seq.fill(4)(k)).toDF("k")
    left.coalesce(1).write.mode("overwrite").parquet(s"$dir/left")
    right.coalesce(1).write.mode("overwrite").parquet(s"$dir/right")
    // persist CMS sketches of both keys (the cms_sketch SQL kernel —
    // what a daily ingest would leave behind)
    left.agg(graft.functions.CmsExprs.cmsSketch(col("k")).as("sketch"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lsk")
    right.agg(graft.functions.CmsExprs.cmsSketch(col("k")).as("sketch"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/rsk")
    val spec =
      s"""{"dataflows":[{
         |"name":"j",
         |"sources":[
         |  {"name":"l","path":"$dir/left","format":"parquet"},
         |  {"name":"r","path":"$dir/right","format":"parquet"}],
         |"transformations":[
         |  {"name":"jn","type":"join","params":{"input":"l","right_input":"r",
         |    "output":"out","on":["k"],"how":"inner",
         |    "left_sketch":"$dir/lsk","right_sketch":"$dir/rsk"}}],
         |"sinks":[]
         |}]}""".stripMargin
    val flow = MetaLoader.loadString(spec).dataflow("j")

    val buf = new java.io.ByteArrayOutputStream()
    val frames = Console.withOut(new java.io.PrintStream(buf)) {
      Dataflow.plan(spark, flow)
    }
    val logged = buf.toString
    val m = """estimated join cardinality <= (\d+) \(cms_join_size""".r
      .findFirstMatchIn(logged)
    assert(m.isDefined, s"pre-flight hint line missing in:\n$logged")
    // one-sided estimator: never below the true join size
    assert(m.get.group(1).toLong >= 56L, s"hint under-estimated: ${m.get.group(1)}")

    // and the hint is strictly a log: same rows, same plan as no-hint
    val noHint = flow.copy(transformations = flow.transformations.map {
      case s: graft.meta.JoinSpec => s.copy(leftSketch = None, rightSketch = None)
      case other => other
    })
    val plain = Dataflow.plan(spark, noHint)
    assert(frames("out").count() === 56L)

    // a missing sketch log must not fail the pipeline — advisory only
    val broken = flow.copy(transformations = flow.transformations.map {
      case s: graft.meta.JoinSpec => s.copy(leftSketch = Some(s"$dir/nope"))
      case other => other
    })
    val buf2 = new java.io.ByteArrayOutputStream()
    val framesB = Console.withOut(new java.io.PrintStream(buf2)) {
      Dataflow.plan(spark, broken)
    }
    assert(framesB("out").count() === 56L)
    assert(buf2.toString.contains("pre-flight skipped"),
      s"expected the skip line, got:\n${buf2.toString}")
    def shape(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "#_")
    assert(shape(frames("out")) === shape(plain("out")),
      "the hint must not change the plan")
  }

  // ---- terminal actions run side by side in lanes (Dataflow.run)

  /** A one-row frame whose single task sleeps `ms` before yielding `v`. */
  private def slowFrame(v: String, ms: Long): org.apache.spark.sql.DataFrame = {
    val slow = udf((s: String) => { Thread.sleep(ms); s }).asNondeterministic()
    Seq(v).toDF("v").coalesce(1).select(slow(col("v")).as("v"))
  }

  private def parquetSink(input: String, name: String, path: String,
                          saveMode: String = "overwrite") =
    graft.meta.SinkSpec(input, name, Seq(path), "parquet", saveMode)

  private def exists(p: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(p))

  test("stats JSON equals the per-section collect() rendering, apart from generated_at") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stats_json").toString
    Seq(
      """{"policy_id":1,"driver":{"age":34},"premium":"120.5"}""",
      """{"policy_id":2,"driver":{"age":15},"premium":"99.0"}""",
      """{"policy_id":3,"driver":{"age":null},"premium":"oops"}""",
      """{"policy_id":4,"driver":{"age":40},"premium":"7"}""")
      .toDS().coalesce(1).write.mode("overwrite").text(s"$dir/in")
    val spec =
      s"""{"dataflows":[{
         |"name":"motor",
         |"sources":[{"name":"raw","path":"$dir/in","format":"json"}],
         |"transformations":[
         |  {"name":"norm","type":"normalize_fields","params":{"input":"raw","output":"n","fields":[]}},
         |  {"name":"val","type":"validate_fields","params":{"input":"n",
         |    "validations":[{"field":"driver_age","validations":["notNull","min:18"]},
         |                   {"field":"premium","validations":["isNumeric"]}],
         |    "ok_output":"ok","ko_output":"ko"}},
         |  {"name":"policy_stats","type":"compute_stats","params":{
         |    "input":"n","fields":["driver_age","premium"],
         |    "include_validation_stats":true,"ok_input":"ok","ko_input":"ko",
         |    "output_path":"$dir/stats"}}],
         |"sinks":[
         |  {"input":"ok","name":"okSink","paths":["$dir/ok"],"format":"parquet","saveMode":"overwrite"}]
         |}]}""".stripMargin
    val frames = Dataflow.run(spark, MetaLoader.loadString(spec).dataflow("motor"))

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def rendered(df: org.apache.spark.sql.DataFrame) = {
      val arr = mapper.createArrayNode()
      df.collect().foreach { row =>
        val o = arr.addObject()
        df.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
          row.get(i) match {
            case null => o.putNull(f)
            case v: Long => o.put(f, v)
            case v: Int => o.put(f, v)
            case v: Double => o.put(f, v)
            case v: Boolean => o.put(f, v)
            case v => o.put(f, v.toString)
          }
        }
      }
      arr
    }
    val expected = mapper.createObjectNode()
    expected.put("stats_name", "policy_stats")
    expected.set[com.fasterxml.jackson.databind.JsonNode]("field_stats",
      rendered(frames("policy_stats_fields")))
    expected.set[com.fasterxml.jackson.databind.JsonNode]("validation_stats",
      rendered(frames("policy_stats_validation")).get(0))
    expected.set[com.fasterxml.jackson.databind.JsonNode]("top_validation_errors",
      rendered(frames("policy_stats_top_errors")))

    val actual = mapper.readTree(new java.io.File(s"$dir/stats/policy_stats.json"))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(actual.remove("generated_at") != null)
    // compared as printed text: same keys, same order, same values
    val pretty = mapper.writerWithDefaultPrettyPrinter()
    assert(pretty.writeValueAsString(actual) === pretty.writeValueAsString(expected))
    assert(actual.get("field_stats").size() === 2)
    assert(actual.get("top_validation_errors").size() > 0)
  }

  test("a failing sink is rethrown only after a slow sink in another lane completed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lanes_fail").toString
    val flow = graft.meta.DataflowSpec("lanes", Nil, Nil, Seq(
      // saveMode merge without mergeKey: fails before any Spark work
      parquetSink("fast", "badMerge", s"$dir/bad1", saveMode = "merge"),
      parquetSink("slow", "slowSink", s"$dir/slow"),
      parquetSink("fast", "badMerge2", s"$dir/bad2", saveMode = "merge")))
    val e = intercept[IllegalArgumentException] {
      Dataflow.run(spark, flow,
        Map("fast" -> Seq("x").toDF("v"), "slow" -> slowFrame("s", 1500)))
    }
    // the first failure in declared order; the later one rides along
    assert(e.getMessage.contains("sink 'badMerge': saveMode merge needs mergeKey"))
    assert(e.getSuppressed.map(_.getMessage).toSeq ===
      Seq("requirement failed: sink 'badMerge2': saveMode merge needs mergeKey"))
    assert(exists(s"$dir/slow/_SUCCESS"),
      "run threw before the slow sink's output was complete")
  }

  test("a sink a retry cannot safely repeat runs only after every earlier action succeeded") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lanes_retry").toString
    val inputs = Map("rows" -> Seq("x").toDF("v"))
    val flow = graft.meta.DataflowSpec("lanes", Nil, Nil, Seq(
      // saveMode merge without mergeKey: fails before any Spark work
      parquetSink("rows", "badMerge", s"$dir/bad", saveMode = "merge"),
      parquetSink("rows", "okSink", s"$dir/ok"),
      parquetSink("rows", "appendSink", s"$dir/appended", saveMode = "append"),
      parquetSink("rows", "aggSink", s"$dir/agg", saveMode = "agg_maintain")
        .copy(aggGroupBy = Seq("v")),
      parquetSink("rows", "lateSink", s"$dir/late")))
    val e = intercept[IllegalArgumentException](Dataflow.run(spark, flow, inputs))
    assert(e.getMessage.contains("sink 'badMerge': saveMode merge needs mergeKey"))
    // re-runnable sinks in other lanes still ran, before and after
    assert(exists(s"$dir/ok/_SUCCESS") && exists(s"$dir/late/_SUCCESS"))
    assert(!exists(s"$dir/appended") && !exists(s"$dir/agg"),
      "an append/agg_maintain sink ran although an earlier action failed")

    // the retry (the failing sink fixed) applies the delta exactly once
    Dataflow.run(spark,
      flow.copy(sinks = parquetSink("rows", "fixed", s"$dir/bad") +: flow.sinks.tail), inputs)
    assert(spark.read.parquet(s"$dir/appended").as[String].collect().toSeq === Seq("x"))
    assert(spark.read.parquet(s"$dir/agg").select("n").as[Long].collect().toSeq === Seq(1L))
  }

  test("sinks on the same or nested paths keep declared order; the last declared write wins") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lanes_order").toString
    val flow = graft.meta.DataflowSpec("lanes", Nil, Nil, Seq(
      // the same path spelled two ways: one qualified target, one lane
      parquetSink("slowFirst", "first", s"$dir/same"),
      parquetSink("fastSecond", "second", s"file:$dir/same/"),
      // a write below a directory a later sink overwrites
      parquetSink("slowFirst", "inner", s"$dir/nest/inner"),
      parquetSink("fastSecond", "outer", s"$dir/nest")))
    Dataflow.run(spark, flow, Map(
      "slowFirst" -> slowFrame("first", 1000), "fastSecond" -> Seq("second").toDF("v")))
    assert(spark.read.parquet(s"$dir/same").as[String].collect().toSeq === Seq("second"))
    assert(spark.read.parquet(s"$dir/nest").as[String].collect().toSeq === Seq("second"))
    assert(!exists(s"$dir/nest/inner"), "the outer overwrite ran before the inner write")
  }

  test("Dataflow.run returns only after every action finished; lanes inherit the caller's local properties") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lanes_wait").toString
    Seq(1, 2, 3).toDF("x").coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
    val sleeps = Seq(300L, 900L, 600L)
    val flow = MetaLoader.loadString(
      s"""{"dataflows":[{"name":"lanes",
         |"sources":[{"name":"src","path":"$dir/in","format":"parquet"}],
         |"transformations":[{"name":"st","type":"compute_stats","params":{
         |  "input":"src","fields":["x"],"output_path":"$dir/stats"}}],
         |"sinks":[]}]}""".stripMargin).dataflow("lanes")
      .copy(sinks = sleeps.indices.map(i => parquetSink(s"slow$i", s"sink$i", s"$dir/out$i")))
    val inputs = sleeps.zipWithIndex
      .map { case (ms, i) => s"slow$i" -> slowFrame(s"v$i", ms) }.toMap
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.spec.caller", "lanes-spec")
    val (_, jobs) =
      try jobsStarted(Dataflow.run(spark, flow, inputs))
      finally sc.setLocalProperty("graft.spec.caller", null)
    sleeps.indices.foreach(i => assert(exists(s"$dir/out$i/_SUCCESS"), s"sink$i unfinished"))
    assert(exists(s"$dir/stats/st.json"))
    assert(jobs.nonEmpty)
    assert(jobs.forall(_.getProperty("graft.spec.caller") == "lanes-spec"),
      "a lane's job lost the caller's local properties")
  }
}
