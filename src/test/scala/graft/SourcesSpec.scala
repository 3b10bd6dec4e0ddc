package graft

import graft.sources.Readers

/** Source-format availability probes (the formats themselves are
  * oracle-gated through the src_json/src_csv/src_orc catalog
  * entries). */
class SourcesSpec extends SparkSpecBase {

  test("avro source: round-trips when the DataSource ships, clear error otherwise") {
    if (Readers.avroAvailable) {
      val dir = java.nio.file.Files.createTempDirectory("graft_avro").toString
      Readers.writeAvro(spark.range(5).toDF("v"), s"$dir/a")
      assert(Readers.avro(spark, s"$dir/a").count() === 5)
      // metadata sink path resolves the format name the same way
      graft.sinks.Writers.write(spark.range(7).toDF("v"),
        graft.meta.SinkSpec(input = "x", name = "s",
          paths = Seq(s"$dir/b"), format = "avro", saveMode = "overwrite"))
      assert(Readers.avro(spark, s"$dir/b").count() === 7)
    } else {
      // this deployment carries only avro-core jars, not the
      // spark-avro DataSource — the probe must say so, not throw a
      // ClassNotFoundException from the source resolver
      val f = java.nio.file.Files.createTempFile("graft_probe", ".avro")
      val ex = intercept[IllegalArgumentException] {
        Readers.read(spark,
          graft.meta.SourceSpec("a", f.toString, "avro", Map.empty))
      }
      assert(ex.getMessage.contains("spark-avro"))
    }
  }

  test("Readers.table re-infers the schema of a racily fresh file rewritten with the same length and mtime") {
    import spark.implicits._
    val dir = freshDir("graft_readers_schema_memo")
    val target = java.nio.file.Paths.get(s"$dir/t.parquet")
    // an mtime inside the racily-fresh granule, set ahead of the clock
    // so the memo check cannot race a slow first read
    val mtime = System.currentTimeMillis() + 60000L
    def writeWithColumn(c: String): Long = {
      val tmp = s"$dir/tmp_$c"
      Seq(1L, 2L, 3L).toDF(c).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      target.toFile.setLastModified(mtime)
      target.toFile.length()
    }
    val lenA = writeWithColumn("a")
    assert(Readers.table(spark, dir, "t").columns.toSeq == Seq("a"))
    val lenB = writeWithColumn("b")
    assert(lenB == lenA && target.toFile.lastModified() == mtime,
      "fixture: the rewrite must keep the file's (mtime, length) memo key")
    val reread = Readers.table(spark, dir, "t")
    assert(reread.columns.toSeq == Seq("b"))
    assert(reread.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }
}
