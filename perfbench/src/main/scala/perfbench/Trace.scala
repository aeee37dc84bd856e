package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one job group. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuMs = 0.0
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuMs += o.cpuMs; gcMs += o.gcMs; inputBytes += o.inputBytes
    outputBytes += o.outputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    this
  }
}

/** A Spark job as seen by the listener, in epoch milliseconds. */
final case class JobSpan(jobId: Int, group: String, startMs: Long, endMs: Long)

/** Counts jobs, stages, tasks, executor time and bytes per job group.
  * The benchmark sets the group around each call it makes into a layer,
  * so every job is charged to the call that launched it. */
final class JobLedger extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, Counters]
  private val started = mutable.Map.empty[Int, (String, Long)]
  private val ended = mutable.ArrayBuffer.empty[JobSpan]

  private def of(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    val c = of(g)
    c.jobs += 1
    started(e.jobId) = (g, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (g, t0) =>
      ended += JobSpan(e.jobId, g, t0, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach { g => val c = of(g); c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageGroup.get(e.stageId).foreach { g =>
      val c = of(g)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuMs += m.executorCpuTime / 1e6
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def counters(group: String): Counters = synchronized {
    groups.get(group).fold(new Counters)(c => new Counters().add(c))
  }

  def jobs: Seq[JobSpan] = synchronized(ended.toList)

  def drain(sc: SparkContext): Unit =
    Drain(sc)(g => synchronized(ended.exists(_.group == g)))
}

object Drain {
  /** Waits until a listener has seen every event posted so far: runs a
    * one-task job under a sentinel group and waits until `seen(group)`
    * reports its end event, which the bus delivers after all earlier
    * events. Call it between spans: it clears the job group. */
  def apply(sc: SparkContext, timeoutMs: Long = 60000L)(seen: String => Boolean): Unit = {
    val g = s"perfbench.drain.${System.nanoTime()}"
    sc.setJobGroup(g, "listener drain")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!seen(g)) {
      require(System.currentTimeMillis() < deadline, "listener bus did not drain")
      Thread.sleep(5)
    }
  }
}

/** CPU time spent on an op: the client thread's CPU while it runs the
  * op, plus the CPU of every Spark task of the jobs it launched (task
  * threads run in this JVM at local[N]). Jobs are tied to their op by a
  * local property the meter sets around it. Thread CPU time excludes
  * time the hypervisor stole from the guest, so on a shared host it
  * moves far less than wall time. Registered in every run, traced or
  * not: it is a measurement, not a trace. */
final class CpuMeter(sc: SparkContext) extends SparkListener {
  private val Key = "perfbench.op"
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val groupOfJob = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val endedGroups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val opNs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  sc.addSparkListener(this)

  private def add(op: String, ns: Long): Unit = opNs.merge(op, ns, (a, b) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).foreach { p =>
      Option(p.getProperty(Key)).foreach(op => e.stageIds.foreach(stageOp.put(_, op)))
      Option(p.getProperty("spark.jobGroup.id")).foreach(groupOfJob.put(e.jobId, _))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(groupOfJob.remove(e.jobId)).filter(_.startsWith("perfbench.drain."))
      .foreach(endedGroups.add)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      Option(stageOp.get(e.stageId)).foreach(add(_, e.taskMetrics.executorCpuTime))

  /** Runs `body` as op `op` (a name used once per op). */
  def measure[A](op: String)(body: => A): A = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, op)
    val t0 = threads.getCurrentThreadCpuTime
    try body
    finally {
      add(op, threads.getCurrentThreadCpuTime - t0)
      sc.setLocalProperty(Key, prev)
    }
  }

  /** CPU ms of each op, once every task that has ended is counted. Call
    * from the client thread, outside spans. */
  def ms(ops: Seq[String]): Seq[Double] = {
    Drain(sc)(endedGroups.contains)
    ops.map(op => Option(opNs.get(op)).fold(0.0)(_ / 1e6))
  }
}

/** One call the benchmark made into a layer, or one request made of
  * such calls. Times are nanoseconds on the JVM's monotonic clock. */
final case class Span(id: Long, parent: Long, request: Long, name: String,
    startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
  def group: String = Tracer.groupOf(id)
}

/** In-memory span recorder. With tracing off it only runs the body: no
  * job group, no clock read, nothing kept. With tracing on, each span
  * sets a job group named after itself, so the ledger charges the
  * span's Spark jobs to it; nested spans restore the parent's group. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val ledger: Option[JobLedger] =
    if (enabled) { val l = new JobLedger; sc.addSparkListener(l); Some(l) } else None

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, Long)] = Nil // (span id, request id)
  private var nextId = 1L
  /** nanoTime → epoch-ms offset, to place listener job times on the
    * span clock. */
  val epochOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val (parent, request) = stack.headOption.fold((0L, id))(p => (p._1, p._2))
      stack = (id, request) :: stack
      sc.setJobGroup(Tracer.groupOf(id), name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, parent, request, name, t0, t1)
        stack = stack.tail
        stack.headOption match {
          case Some((p, _)) => sc.setJobGroup(Tracer.groupOf(p), "")
          case None => sc.clearJobGroup()
        }
      }
    }

  def recorded: Seq[Span] = spans.toList
}

object Tracer {
  def groupOf(spanId: Long): String = s"perfbench.span.$spanId"
}
