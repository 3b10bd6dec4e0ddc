package graft

import graft.operators.Snapshot
import graft.sources.GraftUpdateCommand

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The one session factory: tests run the conf the mains measure, the
  * graft analysis rules are live in it, and no main builds its own. */
class GraftSessionSpec extends SparkSpecBase {
  import spark.implicits._

  test("the spec session carries every key of GraftSession.conf") {
    GraftSession.conf(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, s"conf key $k")
    }
  }

  test("SQL UPDATE on a graft table routes through GraftDmlRule") {
    val t = freshDir("graft_session_update")
    Snapshot.create(spark, t,
      (0 until 20).map(i => (i.toLong, s"v$i", s"p${i % 2}")).toDF("id", "payload", "part"),
      key = "id", partitionCol = "part", statsCols = Seq("id"))
    spark.sql("DROP TABLE IF EXISTS graft_session_u")
    spark.sql(s"CREATE TABLE graft_session_u USING graft LOCATION '$t'")
    try {
      val update = "UPDATE graft_session_u SET payload = 'x' WHERE id <= 4"
      val analyzed = spark.sessionState
        .executePlan(spark.sessionState.sqlParser.parsePlan(update)).analyzed
      assert(analyzed.isInstanceOf[GraftUpdateCommand], analyzed.treeString)
      spark.sql(update)
      assert(Snapshot.history(t).last._2 === "update")
      assert(Snapshot.readLatest(spark, t).filter($"payload" === "x").count() === 5L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_session_u")
  }

  test("no main source builds a SparkSession outside GraftSession.scala") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "GraftSession.scala")
        .filter((p: Path) => Files.readString(p).contains("SparkSession.builder"))
        .map(_.toString).toList
      finally walk.close()
    assert(offenders.isEmpty, s"build sessions through GraftSession.local: $offenders")
  }

  test("only Snapshot's commit primitive publishes manifests; the tracked write is the only write-back of stats") {
    // a call's owner is the nearest enclosing member of its object:
    // the primitive is `commit` with its `Commit` context, and
    // `stageMerge` writes its staging dir outside the lock
    val member = ("""^  (?:(?:private|protected)(?:\[\w+\])? |final |sealed |implicit |""" +
      """override |lazy |case )*(?:def|val|var|class|object|trait) +(\w+)""").r.unanchored
    val call = """\b(writeManifest|writeTracked)\(""".r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val sources =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && !p.toString.contains("/dev/"))
        .toList
      finally walk.close()
    val calls = for {
      p <- sources
      lines = Files.readAllLines(p).asScala.toVector
      (line, i) <- lines.zipWithIndex
      name <- call.findAllMatchIn(line).map(_.group(1))
      if !line.contains(s"def $name(")
    } yield (p.getFileName.toString, i + 1, name,
      (i to 0 by -1).iterator.map(lines(_)).collectFirst { case member(n) => n })
    assert(calls.map(c => (c._1, c._3, c._4)).toSet == Set(
      ("Snapshot.scala", "writeManifest", Some("commit")),
      ("Snapshot.scala", "writeTracked", Some("Commit")),
      ("Snapshot.scala", "writeTracked", Some("stageMerge"))),
      s"publish and write through Snapshot.commit: $calls")
    // the read-back of a commit's files is gone, not just unused
    val readBack = sources.filter(p => """\b(entriesOf|commitEntries)\(""".r
      .findFirstIn(Files.readString(p)).isDefined)
    assert(readBack.isEmpty, s"stats are gathered by the write job: $readBack")
  }

  test("GraftFunctions.register keeps graft's own registrations and replaces anything else") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    // a session of its own: same extensions, its own function registry
    val s = spark.newSession()
    val registry = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val id = FunctionIdentifier("vec_norm")
    def info = registry.lookupFunction(id).map(_.getClassName)
    // the extensions already registered it: register leaves it alone
    val injected = registry.lookupFunctionBuilder(id).get
    graft.functions.GraftFunctions.register(s)
    assert(registry.lookupFunctionBuilder(id).get eq injected)
    // a user's function of the same name is replaced, as before
    s.udf.register("vec_norm", (x: String) => x)
    assert(!info.contains("graft"))
    graft.functions.GraftFunctions.register(s)
    assert(info.contains("graft"))
    // a session without it gets it
    registry.dropFunction(id)
    graft.functions.GraftFunctions.register(s)
    assert(info.contains("graft"))
    assert(s.sql("SELECT vec_norm(array(3.0D, 4.0D))").head().getDouble(0) === 5.0)
  }
}
