package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.streaming.StreamingPipeline

/** The stream runners checkpoint through the NIO manager, and only for
  * their own run. The manager writes no Hadoop `.<name>.crc` siblings;
  * Hadoop's local filesystem, the default, writes one per file. (The
  * state store's own `<name>.crc` checksum files are written either way.)
  */
class StreamRunSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Every file under the query's checkpoint root, relative to it. */
  private def checkpointFiles(q: StreamingQuery): Seq[String] = {
    val root = Paths.get(new org.apache.hadoop.fs.Path(
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.resolvedCheckpointRoot).toUri.getPath)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toList
    finally walk.close()
  }

  private def hadoopCrc(file: String) = {
    val name = Paths.get(file).getFileName.toString
    name.startsWith(".") && name.endsWith(".crc")
  }

  private def sessionIds = StreamingPipeline.sessionIds(
    StreamingPipeline.readEvents(spark, sf)).toDF()

  test("a runner's stream checkpoints through the NIO manager, for that run only") {
    assert(spark.conf.getOption(managerKey).isEmpty)
    val (_, q) = StreamingPipeline.runToParquet(sessionIds, "nio-run")
    val files = checkpointFiles(q)
    // offsets, commits and the state store all went through the manager
    assert(files.exists(_.startsWith("offsets/")) && files.exists(_.startsWith("state/")),
      s"checkpoint holds no offset log or state: $files")
    assert(!files.exists(hadoopCrc), s"Hadoop .crc siblings in $files")
    assert(spark.conf.getOption(managerKey).isEmpty,
      "the checkpoint manager conf must be unset again after the run")
  }

  test("a stream started outside the runners keeps Hadoop's manager and its .crc siblings") {
    val dir = Artifacts.tempDir("graft-stream-plain-")
    val q = sessionIds.writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val files = checkpointFiles(q)
    assert(files.exists(hadoopCrc), s"no Hadoop .crc siblings in $files")
  }
}
