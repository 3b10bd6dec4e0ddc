package perfbench

import graft.operators.{LocalLogStore, LogStore}

import java.util.concurrent.atomic.AtomicLong

/** A [[LogStore]] for `file:` paths that counts and times every metadata
  * call, then delegates to [[LocalLogStore]] on the scheme-stripped path.
  * Registered with `spark.graft.logstore.file`, so every manifest read,
  * commit publish, lock claim and listing of a `file:`-qualified table
  * passes through it. No latency is added. */
class CountingLogStore extends LogStore {
  import CountingLogStore.counted

  private def strip(p: String): String = {
    val noScheme = p.stripPrefix("file:")
    if (noScheme.startsWith("//")) "/" + noScheme.dropWhile(_ == '/') else noScheme
  }

  override def exists(path: String): Boolean =
    counted("exists")(LocalLogStore.exists(strip(path)))
  override def isDirectory(path: String): Boolean =
    counted("isDirectory")(LocalLogStore.isDirectory(strip(path)))
  override def read(path: String): Array[Byte] =
    counted("read")(LocalLogStore.read(strip(path)))
  override def putIfAbsent(path: String, bytes: Array[Byte]): Unit =
    counted("putIfAbsent")(LocalLogStore.putIfAbsent(strip(path), bytes))
  override def putReplace(path: String, bytes: Array[Byte]): Unit =
    counted("putReplace")(LocalLogStore.putReplace(strip(path), bytes))
  override def list(path: String): Seq[(String, Boolean)] =
    counted("list")(LocalLogStore.list(strip(path)))
  override def mkdirs(path: String): Unit =
    counted("mkdirs")(LocalLogStore.mkdirs(strip(path)))
  override def createNew(path: String): Boolean =
    counted("createNew")(LocalLogStore.createNew(strip(path)))
  override def delete(path: String): Boolean =
    counted("delete")(LocalLogStore.delete(strip(path)))
  override def deleteTree(path: String): Unit =
    counted("deleteTree")(LocalLogStore.deleteTree(strip(path)))
  override def rename(src: String, dst: String): Unit =
    counted("rename")(LocalLogStore.rename(strip(src), strip(dst)))
  override def modifiedTime(path: String): Long =
    counted("modifiedTime")(LocalLogStore.modifiedTime(strip(path)))
  override def size(path: String): Long =
    counted("size")(LocalLogStore.size(strip(path)))
}

object CountingLogStore {
  val Ops: Seq[String] = Seq("exists", "isDirectory", "read", "putIfAbsent",
    "putReplace", "list", "mkdirs", "createNew", "delete", "deleteTree",
    "rename", "modifiedTime", "size")
  private val calls = Ops.map(_ -> new AtomicLong()).toMap
  private val nanos = new AtomicLong()

  /** Calls made while paused are not counted: the benchmark's own
    * metadata lookups must not inflate the program's figures. */
  @volatile var paused = false

  private def counted[A](op: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally if (!paused) {
      calls(op).incrementAndGet()
      nanos.addAndGet(System.nanoTime() - t0)
    }
  }

  /** Calls per operation, plus `logstore.ns`, the time spent in them. */
  def snapshot(): Map[String, Long] =
    calls.map { case (op, n) => s"logstore.calls.$op" -> n.get } +
      ("logstore.ns" -> nanos.get)
}
