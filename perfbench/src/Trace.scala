package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One timed region of benchmark code. Spans of one batch share `batch`;
  * `parent` names the enclosing span, if any.
  */
final case class Span(name: String, batch: Int, parent: Option[String],
    startNs: Long, endNs: Long, group: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one job group. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Bytes read by stages that scan the text (gzip) source. */
  var textReadBytes = 0L
  /** Submitted stages that read a persisted RDD an earlier stage built. */
  var cachedStages = 0
  val cachedStageNames = mutable.ArrayBuffer.empty[String]
  /** Peak total size of any persisted RDD built while the group ran. */
  var cachedBytes = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val taskMsByStage = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Attributes scheduler events to the job group the benchmark set on the
  * thread that launched the job. Spark propagates the group to the
  * threads SQL spawns for broadcasts and subqueries, and to the sink pool
  * `ElbPipeline.run` creates, so no stage name is needed.
  */
final class GroupListener extends SparkListener {
  import GroupListener.JobGroupKey

  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageIsText = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val rddBlocks = mutable.HashMap.empty[Int, mutable.HashMap[Int, Long]]
  /** Persisted RDDs some submitted stage already held. */
  private val builtRdds = mutable.HashSet.empty[Int]
  @volatile private var blockGroup: String = null

  private def stats(g: String): GroupStats = synchronized(groups.getOrElseUpdate(g, new GroupStats))

  def get(g: String): GroupStats = synchronized(groups.getOrElse(g, new GroupStats))

  /** Group `g` together with the groups of the spans nested in it. */
  def tree(g: String): GroupStats = synchronized {
    val all = groups.collect { case (k, s) if k == g || k.startsWith(g + "/") => s }
    val t = new GroupStats
    all.foreach { s =>
      t.jobs += s.jobs; t.stages += s.stages; t.tasks += s.tasks
      t.taskMs += s.taskMs; t.gcMs += s.gcMs
      t.shuffleWriteBytes += s.shuffleWriteBytes; t.spillBytes += s.spillBytes
      t.intervals ++= s.intervals
      s.taskMsByStage.foreach { case (k, v) => t.taskMsByStage(k) = v }
    }
    t
  }

  /** Persisted-block sizes seen from now on are charged to `g`. */
  def chargeBlocksTo(g: String): Unit = synchronized {
    blockGroup = g; rddBlocks.clear(); builtRdds.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
    g.foreach { id =>
      val desc = Option(e.properties.getProperty("spark.job.description")).getOrElse("")
      e.stageIds.foreach { s => stageGroup.put(s, id); stageJob.put(s, s"job ${e.jobId} $desc".trim) }
      synchronized(stats(id).jobs += 1)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    val text = info.rddInfos.exists(r => r.scope.exists(_.name.startsWith("Scan text")))
    stageIsText.put(info.stageId, text)
    Option(stageGroup.get(info.stageId)).foreach { g =>
      synchronized {
        val s = stats(g)
        s.stages += 1
        // the first stage that holds a persisted RDD computes and stores
        // its blocks; a later one reads them
        val cached = info.rddInfos.filter(_.storageLevel.isValid).map(_.id)
        if (cached.exists(builtRdds)) {
          s.cachedStages += 1
          s.cachedStageNames += s"stage ${info.stageId} of ${stageJob.get(info.stageId)}"
        }
        builtRdds ++= cached
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) synchronized {
      val s = stats(g)
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      if (Boolean.box(true) == stageIsText.get(e.stageId)) s.textReadBytes += m.inputMetrics.bytesRead
      s.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      s.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case RDDBlockId(rdd, split) if blockGroup != null => synchronized {
        val blocks = rddBlocks.getOrElseUpdate(rdd, mutable.HashMap.empty)
        blocks(split) = info.memSize + info.diskSize
        val s = stats(blockGroup)
        s.cachedBytes = math.max(s.cachedBytes, blocks.values.sum)
      }
      case _ =>
    }
  }
}

object GroupListener {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"
}

/** Span recorder: spans are kept in memory and written once, at the end. */
final class Tracer(sc: SparkContext, val listener: GroupListener) {
  import GroupListener.JobGroupKey

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Open spans, innermost first: (name, job group). */
  private var stack = List.empty[(String, String)]

  /** Run `body` as span `name` of `batch` under its own job group; a
    * nested span's group extends its parent's, so the parent's figures
    * can include it.
    */
  def span[T](name: String, batch: Int)(body: => T): T = {
    val parent = stack.headOption
    val group = parent.fold(s"perfbench:b$batch:$name")(p => s"${p._2}/$name")
    stack = (name, group) :: stack
    val prevGroup = sc.getLocalProperty(JobGroupKey)
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans += Span(name, batch, parent.map(_._1), t0, t1, group)
      stack = stack.tail
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setLocalProperty(JobGroupKey, prevGroup)
    }
  }

  /** Scheduler figures for one span and the spans nested in it; task
    * times are listener-side wall clock (ms since epoch), so the idle-gap
    * estimate lines them up with the span by its own epoch offset.
    */
  def schedulerStats(s: Span, cores: Int, epochOffsetNs: Long): Map[String, Double] = {
    val g = listener.tree(s.group)
    val wall = s.seconds
    val startMs = (s.startNs + epochOffsetNs) / 1000000L
    val endMs = (s.endNs + epochOffsetNs) / 1000000L
    val busyMs = unionMs(g.intervals.toSeq.map { case (a, b) =>
      (math.max(a, startMs), math.min(b, endMs)) }.filter { case (a, b) => b > a })
    val longest = g.taskMsByStage.values.toSeq.sortBy(-_.sum).headOption
    val skew = longest.map { ts =>
      val sorted = ts.sorted
      val med = sorted(sorted.size / 2).toDouble
      sorted.last / math.max(med, 1.0)
    }.getOrElse(0.0)
    Map(
      "spark.jobs" -> g.jobs.toDouble,
      "spark.stages" -> g.stages.toDouble,
      "spark.tasks" -> g.tasks.toDouble,
      "spark.task_s" -> g.taskMs / 1000.0,
      "spark.gc_s" -> g.gcMs / 1000.0,
      "spark.shuffle_write_bytes" -> g.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> g.spillBytes.toDouble,
      "spark.par_eff" -> g.taskMs / 1000.0 / math.max(wall * cores, 1e-9),
      "spark.driver_gap_s" -> math.max(0.0, wall - busyMs / 1000.0),
      "spark.task_skew" -> skew)
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
