package graft

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.NioCheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** Contract pins for the round-17 NIO checkpoint manager — the
  * semantics HDFSMetadataLog and the HDFS-backed state store rely on.
  * The END-TO-END proof is the streaming oracle family itself
  * (StreamingSpec + the 19 streaming_* queries run through the
  * manager by StreamingPipeline's stream runners, which scope its conf
  * to each run; StreamScopeSpec checks that). These cases pin the
  * failure-path contracts e2e runs don't exercise.
  */
class NioCheckpointSpec extends AnyFunSuite {

  private def mgr(dir: java.nio.file.Path) =
    new NioCheckpointFileManager(
      new Path(dir.toUri), new Configuration(false))

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft-nio-spec-")

  private def readAll(m: NioCheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("createAtomic publishes on close, atomically, under the final name") {
    val d = tmpDir()
    val m = mgr(d)
    val f = new Path(d.resolve("sub/7.delta").toUri)
    val out = m.createAtomic(f, overwriteIfPossible = false)
    out.write("v1".getBytes(UTF_8))
    // not visible before close — the temp file carries a dotted name
    assert(!m.exists(f))
    out.close()
    assert(m.exists(f) && readAll(m, f) == "v1")
    // no temp-file droppings
    assert(m.list(new Path(d.resolve("sub").toUri)).map(_.getPath.getName)
      .toSeq == Seq("7.delta"))
  }

  test("createAtomic without overwrite fails loud on an existing file; with overwrite replaces") {
    val d = tmpDir()
    val m = mgr(d)
    val f = new Path(d.resolve("0").toUri)
    val a = m.createAtomic(f, overwriteIfPossible = false)
    a.write("first".getBytes(UTF_8)); a.close()
    val b = m.createAtomic(f, overwriteIfPossible = false)
    b.write("second".getBytes(UTF_8))
    // the batch-id claim contract: HDFSMetadataLog.add treats this
    // exception as "another writer won the batch"
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](b.close())
    assert(readAll(m, f) == "first")
    val c = m.createAtomic(f, overwriteIfPossible = true)
    c.write("third".getBytes(UTF_8)); c.close()
    assert(readAll(m, f) == "third")
  }

  test("cancel drops the temp file and publishes nothing") {
    val d = tmpDir()
    val m = mgr(d)
    val f = new Path(d.resolve("cancelled").toUri)
    val out = m.createAtomic(f, overwriteIfPossible = true)
    out.write("x".getBytes(UTF_8))
    out.cancel()
    assert(!m.exists(f))
    assert(m.list(new Path(d.toUri)).isEmpty)
  }

  test("open/list signal missing paths with Hadoop's FileNotFoundException") {
    val d = tmpDir()
    val m = mgr(d)
    intercept[FileNotFoundException](m.open(new Path(d.resolve("absent").toUri)))
    intercept[FileNotFoundException](m.list(new Path(d.resolve("absent-dir").toUri)))
  }

  test("open serves seek + positioned reads (state-store delta replay shape)") {
    val d = tmpDir()
    val m = mgr(d)
    val f = new Path(d.resolve("seekable").toUri)
    val out = m.createAtomic(f, overwriteIfPossible = true)
    out.write("0123456789".getBytes(UTF_8)); out.close()
    val in = m.open(f)
    try {
      in.seek(4L)
      assert(in.read() == '4'.toInt)
      val buf = new Array[Byte](3)
      in.readFully(7L, buf) // PositionedReadable path
      assert(new String(buf, UTF_8) == "789")
      assert(in.getPos == 5L) // positioned read must not move the cursor
    } finally in.close()
  }

  test("delete is recursive and idempotent; mkdirs creates parents") {
    val d = tmpDir()
    val m = mgr(d)
    val sub = new Path(d.resolve("a/b/c").toUri)
    m.mkdirs(sub)
    val f = new Path(d.resolve("a/b/c/file").toUri)
    val out = m.createAtomic(f, overwriteIfPossible = true)
    out.write("x".getBytes(UTF_8)); out.close()
    m.delete(new Path(d.resolve("a").toUri))
    assert(!m.exists(new Path(d.resolve("a").toUri)))
    m.delete(new Path(d.resolve("a").toUri)) // second delete: no-op
  }

  test("refuses non-local checkpoint schemes loudly") {
    val m = mgr(tmpDir())
    intercept[IllegalArgumentException](
      m.exists(new Path("hdfs://nn:8020/ckpt")))
  }
}
