package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval. Spans of one pass share `pass`; `parent` is the id
  * of the enclosing span (0 for a pass root). Times are epoch ms. */
final case class Span(id: Long, pass: Int, name: String, parent: Long,
    startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty) {
  def durS: Double = (endMs - startMs) / 1000.0
}

/** In-memory span store. Benchmark spans come from `span`; Spark job and
  * stage spans are added by [[StageRecorder]] and attached under the
  * benchmark span that was open when the job started. */
final class Tracer {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private var open: List[(Long, Int)] = Nil // (span id, pass)
  private var sc: Option[org.apache.spark.SparkContext] = None

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def nextId(): Long = ids.incrementAndGet()

  /** Jobs submitted from the driver thread carry the open span in a local
    * property, which their SparkListenerJobStart event hands back. */
  def bind(context: org.apache.spark.SparkContext): Unit = sc = Some(context)
  private def publish(): Unit = sc.foreach(_.setLocalProperty(Tracer.Prop,
    open.headOption.map { case (id, p) => s"$id:$p" }.orNull))

  /** Driver-side busy intervals inside each pass's root span, by span id
    * (see [[DriverSampler]]). */
  val driverBusy =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[(Double, Double)]]()

  /** A pass's root span is sampled for driver-side work (`driverBusy`). */
  def span[T](pass: Int, name: String)(f: => T): T = {
    val id = nextId()
    val parent = open.headOption.map(_._1).getOrElse(0L)
    val sampler =
      if (open.isEmpty) Some(new DriverSampler(Thread.currentThread)) else None
    val t0 = nowMs
    open = (id, pass) :: open
    publish()
    try f
    finally {
      val t1 = nowMs
      open = open.tail
      publish()
      val attrs = sampler.fold(Map.empty[String, Double]) { s =>
        val iv = s.finish()
        driverBusy.put(id, iv)
        Map("driver_busy_s" -> iv.map(x => x._2 - x._1).sum / 1000.0)
      }
      spans.add(Span(id, pass, name, parent, t0, t1, attrs))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startMs, s.id))

  def toJson: String = Json.arr(all.map { s =>
    Json.obj(Seq("id" -> s.id, "pass" -> s.pass, "name" -> s.name,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "attrs" -> Json.Raw(Json.obj(s.attrs.toSeq.sortBy(_._1)))))
  })
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Listener-side record of one completed stage; `owner` is the benchmark
  * span that submitted its job. */
final case class StageRec(stageId: Int, jobId: Int, owner: Long, pass: Int,
    submitMs: Double, completeMs: Double, tasks: Int, runS: Double,
    cpuS: Double, gcS: Double, inputBytes: Long, outputBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long,
    taskMaxOverMedian: Double)

/** The Spark layer boundary: a SparkListener that turns jobs and stages
  * into spans under whichever benchmark span submitted them. */
final class StageRecorder(tr: Tracer) extends SparkListener {
  private val jobParent = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, Double, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  val stages = new ConcurrentLinkedQueue[StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val (parent, pass) = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map { v => val Array(id, p) = v.split(':'); (id.toLong, p.toInt) }
      .getOrElse((0L, -1))
    jobParent.put(e.jobId, (parent, pass, e.time.toDouble, tr.nextId()))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobParent.get(e.jobId)
    if (j != null)
      tr.spans.add(Span(j._4, j._2, s"spark.job.${e.jobId}", j._1, j._3,
        e.time.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
      .add(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val job = Option(stageJob.get(si.stageId)).map(_.intValue).getOrElse(-1)
    val j = Option(jobParent.get(job))
    val durs = Option(taskMs.remove(si.stageId)).map(_.asScala.toArray.sorted)
      .getOrElse(Array.empty[Long])
    val med = if (durs.isEmpty) 0L else durs(durs.length / 2)
    val rec = StageRec(si.stageId, job, j.map(_._1).getOrElse(0L),
      j.map(_._2).getOrElse(-1),
      si.submissionTime.getOrElse(0L).toDouble,
      si.completionTime.getOrElse(0L).toDouble, si.numTasks,
      m.executorRunTime / 1000.0, m.executorCpuTime / 1e9,
      m.jvmGCTime / 1000.0, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      if (med > 0) durs.last.toDouble / med else 1.0)
    stages.add(rec)
    tr.spans.add(Span(tr.nextId(), rec.pass, s"spark.stage.${si.stageId}",
      j.map(_._4).getOrElse(0L), rec.submitMs, rec.completeMs,
      Map("tasks" -> rec.tasks.toDouble, "run_s" -> rec.runS,
        "cpu_s" -> rec.cpuS, "gc_s" -> rec.gcS,
        "input_bytes" -> rec.inputBytes.toDouble,
        "output_bytes" -> rec.outputBytes.toDouble,
        "shuffle_write_bytes" -> rec.shuffleWriteBytes.toDouble,
        "spill_bytes" -> rec.spillBytes.toDouble)))
  }

  def stagesOf(pass: Int): Seq[StageRec] =
    stages.asScala.filter(_.pass == pass).toSeq.sortBy(_.submitMs)
}

/** JVM-level probes: GC time, JIT time and the live heap. */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  def gcMs: Long = gcs.map(g => math.max(0L, g.getCollectionTime)).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)

  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** Heap occupancy after a forced full collection, from the heap pools'
    * collection usage. It is read twice with a pause between: the first
    * collection lets Spark's ContextCleaner see unreachable broadcasts,
    * shuffles and cached RDDs, which it then drops asynchronously, so a
    * single reading varied with the cleaner's timing. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Heap occupancy after every collection, as the heap pools' collection
    * usage reads right after it: each pool holds its usage after the last
    * collection that covered it (a young collection updates eden and the
    * survivor spaces, a full one the old generation too). Readings are
    * taken from the collectors' notifications, with the collection's end
    * in JVM uptime ms, so a pass can pick the collections that ended
    * inside it. */
  object AfterGc {
    private val gcPools: Map[String, Set[String]] =
      gcs.map(g => g.getName -> g.getMemoryPoolNames.toSet).toMap
    private val last = scala.collection.mutable.Map.empty[String, Long]
    heapPools.foreach(p => Option(p.getCollectionUsage).foreach(u =>
      last(p.getName) = u.getUsed))
    private val readings = ArrayBuffer.empty[(Long, Double)]

    private val listener = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val covered = gcPools.getOrElse(info.getGcName, Set.empty[String])
          val gc = info.getGcInfo
          AfterGc.synchronized {
            gc.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
              if (last.contains(pool) && covered(pool)) last(pool) = u.getUsed
            }
            readings += gc.getEndTime -> last.values.sum / 1048576.0
          }
        }
    }
    gcs.foreach(_.asInstanceOf[javax.management.NotificationEmitter]
      .addNotificationListener(listener, null, null))

    /** Registers the listener (on first use of this object). */
    def start(): Unit = ()

    /** Readings of the collections that ended in [fromMs, toMs] uptime. */
    def between(fromMs: Long, toMs: Long): Seq[Double] = synchronized {
      readings.collect { case (t, mb) if t >= fromMs && t <= toMs => mb }.toSeq
    }
  }
}

/** Samples, every millisecond while it runs, whether the driver side is
  * working: the calling thread, or one of the threads Spark runs driver
  * work on (scheduler events, broadcast and exchange materialisation,
  * subqueries), is RUNNABLE. A thread that waits for a job is not. The
  * busy time comes back as epoch-ms intervals, a measurement taken apart
  * from the listener's job and stage times. */
final class DriverSampler(main: Thread) {
  @volatile private var stop = false
  private val busy = ArrayBuffer.empty[(Double, Double)]
  private val thread = new Thread(() => {
    var helpers = Seq.empty[Thread]
    var tick = 0
    var open = -1.0
    while (!stop) {
      if (tick % 50 == 0) helpers = DriverSampler.helpers()
      tick += 1
      java.util.concurrent.locks.LockSupport.parkNanos(1000000L)
      val now = System.currentTimeMillis().toDouble
      val on = main.getState == Thread.State.RUNNABLE ||
        helpers.exists(_.getState == Thread.State.RUNNABLE)
      if (on && open < 0) open = now
      else if (!on && open >= 0) { busy += open -> now; open = -1.0 }
    }
    if (open >= 0) busy += open -> System.currentTimeMillis().toDouble
  }, "perfbench-driver-sampler")
  thread.setDaemon(true)
  thread.start()

  /** Stops sampling and returns the busy intervals. */
  def finish(): Seq[(Double, Double)] = { stop = true; thread.join(); busy.toSeq }
}

object DriverSampler {
  private val prefixes = Seq("dag-scheduler-event-loop", "broadcast-exchange",
    "shuffle-exchange", "ResultQueryStageExecution", "subquery")

  def helpers(): Seq[Thread] = {
    var g = Thread.currentThread.getThreadGroup
    while (g.getParent != null) g = g.getParent
    val all = new Array[Thread](g.activeCount() * 2 + 16)
    all.take(g.enumerate(all, true)).filter(t =>
      prefixes.exists(t.getName.startsWith)).toSeq
  }
}

/** Share of the machine's CPU time the hypervisor took from this VM (the
  * `steal` column of /proc/stat) between two readings; 0 where the kernel
  * does not report it. */
object Steal {
  def ticks(): (Long, Long) = scala.util.Try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
      .get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }.getOrElse((0L, 0L))
  def share(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 == from._2) 0.0 else (to._1 - from._1).toDouble / (to._2 - from._2)
}

/** Minimal JSON writer (numbers keep all their digits). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(j) => j
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }
      .sortBy(_._1))
    case s: Seq[_] => arr(s.map(value))
    case o => str(o.toString)
  }
  final case class Raw(json: String)
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
