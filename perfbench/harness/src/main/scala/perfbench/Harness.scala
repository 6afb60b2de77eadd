package perfbench

import java.io.{File, FileInputStream}
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One benchmark session: a fresh JVM holding one SparkSession set up as
  * `graft.Bench` sets up its own, and one client thread running a closed
  * loop over a workload's `SparkEntry.queries` keys.
  *
  * {{{
  * Harness --list FILE      (writes the declared keys and oracle SQL)
  * Harness --sf DIR --work DIR --keys k1,k2,.. --cpus N --seed N
  *         --passes N --order seed|reverse --sink noop|parquet
  *         --untimed 0|1 --warm N --trace 0|1 --out FILE
  * }}}
  *
  * Each execution is timed from outside the engine: build the DataFrame
  * (`construct`), consume every column through the sink (`consume`), then
  * `GlobalRank.releaseCheckpoints` (`release`). Nothing else is shed
  * between queries, so storage the engine leaves behind stays, as it does
  * in a user's long-lived session.
  *
  * The untimed pass (pass -1) runs every key once in the given order,
  * dumping each result to `work/check/<key>` for the output check; then
  * `--warm` passes (pass -2) run the keys through the real sink so the JIT
  * settles before timing. The timed loop then runs `--passes` passes over
  * the keys, each in a fresh order drawn from `--seed`. With `--trace 1` a
  * [[Ledger]] listener attributes every Spark event to the execution that
  * caused it and records spans; the listener bus is drained after each
  * execution so no event crosses into the next.
  */
object Harness {
  private val PhaseTag = "perfbench-"

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("list").foreach { out =>
      new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(out),
        Map("keys" -> graft.SparkEntry.queries.keys.toSeq.sorted,
          "oracle_sql" -> graft.SparkEntry.oracleSql))
      sys.exit(0)
    }
    val sf = a("sf")
    val work = a("work")
    val keys = a("keys").split(",").toSeq
    val cpus = a("cpus")
    val passes = a.getOrElse("passes", "0").toInt
    val reverse = a.getOrElse("order", "seed") == "reverse"
    val sink = a.getOrElse("sink", "noop")
    val untimed = a.getOrElse("untimed", "1") == "1"
    val trace = a.getOrElse("trace", "0") == "1"

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()
    warm(new File(sf))

    val ledger = if (trace) Some(new Ledger(spark)) else None
    val queries = graft.SparkEntry.queries
    val execs = mutable.ArrayBuffer[Map[String, Any]]()
    // Harness clock in epoch milliseconds with sub-millisecond digits, on
    // the same scale as the listener events' timestamps.
    val epochBase = System.currentTimeMillis() - System.nanoTime() / 1e6
    def nowMs(): Double = epochBase + System.nanoTime() / 1e6
    def heldMb(): Double =
      sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

    def exec(key: String, pass: Int, dump: Boolean): Unit = {
      val qid = execs.size
      val held = if (trace) heldMb() else Double.NaN
      ledger.foreach(_.begin(qid))
      var phase = ""
      def enter(p: String): Double = {
        if (phase.nonEmpty) sc.removeJobTag(PhaseTag + phase)
        phase = p
        if (trace) sc.addJobTag(PhaseTag + p)
        nowMs()
      }
      def consume(df: DataFrame): Unit =
        if (dump) df.coalesce(1).write.mode("overwrite").parquet(s"$work/check/$key")
        else if (sink == "parquet") df.write.mode("overwrite").parquet(s"$work/sink/$key")
        else df.write.format("noop").mode("overwrite").save()
      val t0 = enter("construct")
      var t1 = Double.NaN
      var err: String = null
      try {
        val df = queries(key)(spark, sf)
        t1 = enter("consume")
        consume(df)
      } catch {
        case e: Throwable =>
          err = s"${e.getClass.getName}: ${e.getMessage}".take(500)
          System.err.println(s"[perfbench] $key failed: $err")
      }
      val t2 = enter("release")
      if (t1.isNaN) t1 = t2
      graft.functions.GlobalRank.releaseCheckpoints(spark)
      val t3 = nowMs()
      sc.removeJobTag(PhaseTag + phase)
      if (trace) PerfbenchBus.drain(sc)
      execs += Map("key" -> key, "pass" -> pass, "qid" -> qid,
        "start_ms" -> t0, "end_ms" -> t3, "construct_s" -> (t1 - t0) / 1e3,
        "consume_s" -> (t2 - t1) / 1e3, "release_s" -> (t3 - t2) / 1e3,
        "held_mb_at_entry" -> held, "err" -> err)
    }

    if (untimed) keys.foreach(exec(_, -1, dump = true))
    for (_ <- 1 to a.getOrElse("warm", "0").toInt) keys.foreach(exec(_, -2, dump = false))
    val setupDoneMs = System.currentTimeMillis()

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcMs() = gcBeans.map(_.getCollectionTime).sum
    val gc0 = gcMs()
    heapPools.foreach(_.resetPeakUsage())
    val rng = new scala.util.Random(a.getOrElse("seed", "0").toLong)
    val timedStart = nowMs()
    for (pass <- 0 until passes) {
      val order = rng.shuffle(keys)
      (if (reverse) order.reverse else order).foreach(exec(_, pass, dump = false))
    }
    val timedEnd = nowMs()
    val record = Map(
      "cpus" -> cpus.toInt,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs,
      "setup_done_ms" -> setupDoneMs,
      "timed_start_ms" -> timedStart, "timed_end_ms" -> timedEnd,
      "passes" -> passes,
      "leaked_mb" -> heldMb(),
      "jvm" -> Map(
        "gc_s" -> (gcMs() - gc0) / 1e3,
        "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
        "classes" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount,
        "vmhwm_mb" -> vmHwmMb()),
      "execs" -> execs.toSeq) ++
      ledger.map(l => Map("ledger" -> l.counters, "spans" -> l.spans)).getOrElse(Map())
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(a("out")), record)
    spark.stop()
    sys.exit(0)
  }

  /** Streams every fixture byte through the OS read path once, as
    * `graft.Bench` does, so timings start from a warm page cache. */
  private def warm(f: File): Unit =
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(warm))
    else {
      val in = new FileInputStream(f)
      val buf = new Array[Byte](1 << 20)
      try { while (in.read(buf) >= 0) () } finally in.close()
    }

  private def vmHwmMb(): Double = scala.io.Source.fromFile("/proc/self/status")
    .getLines().find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Per-execution counters and spans from Spark's public listener APIs.
    * Events are attributed to the execution running when they are
    * delivered; [[Harness]] drains the bus after each execution, and a
    * job's phase comes from the phase tag it was submitted under. */
  final class Ledger(spark: SparkSession) extends SparkListener {
    @volatile private var qid = -1
    private val c = mutable.Map[Int, mutable.Map[String, Double]]()
    private val spanBuf = mutable.ArrayBuffer[mutable.Map[String, Any]]()
    private val open = mutable.Map[String, mutable.Map[String, Any]]()
    private val stageJob = mutable.Map[Int, Int]()
    private val sqlIds = mutable.Set[Long]()
    private val blocks = mutable.Map[RDDBlockId, Long]()
    private val pinnedRdds = mutable.Map[Int, mutable.Set[Int]]()
    private var stored = 0L
    private var storedAtBegin = 0L

    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planned(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planned(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
        val p = e.progress
        add("streaming.batches", 1)
        add("streaming.batch_s",
          Option(p.durationMs.get("triggerExecution")).map(_.doubleValue / 1e3).getOrElse(0.0))
        add("streaming.state_rows", p.stateOperators.map(_.numRowsTotal.toDouble).sum)
      }
    })

    def begin(q: Int): Unit = synchronized { qid = q; storedAtBegin = stored }

    private def add(k: String, v: Double): Unit = {
      val m = c.getOrElseUpdate(qid, mutable.Map())
      m(k) = m.getOrElse(k, 0.0) + v
    }
    private def max(k: String, v: Double): Unit = {
      val m = c.getOrElseUpdate(qid, mutable.Map())
      m(k) = math.max(m.getOrElse(k, 0.0), v)
    }
    private def phaseOf(props: java.util.Properties): String =
      phaseOf(Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSet[String].flatMap(_.split(",")))
    private def phaseOf(tags: Set[String]): String =
      tags.find(_.startsWith(PhaseTag)).map(_.stripPrefix(PhaseTag)).getOrElse("construct")
    private def startSpan(id: String, parent: String, kind: String, ms: Double): Unit = {
      val s = mutable.Map[String, Any]("id" -> id, "parent" -> parent, "kind" -> kind,
        "qid" -> qid, "start_ms" -> ms, "end_ms" -> ms)
      spanBuf += s; open(id) = s
    }
    private def endSpan(id: String, ms: Double): Unit =
      open.remove(id).foreach(_("end_ms") = ms)

    private def planned(qe: QueryExecution): Unit = synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble / 1e3).getOrElse(0.0)
      add("catalyst.executions", 1)
      add("catalyst.analysis_s", ms("analysis"))
      add("catalyst.optimize_s", ms("optimization"))
      add("catalyst.plan_s", ms("planning"))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlIds += s.executionId
          val parent = s.rootExecutionId.filter(r => r != s.executionId && sqlIds(r))
            .map(r => s"sql$r").getOrElse(s"q$qid.${phaseOf(s.jobTags)}")
          startSpan(s"sql${s.executionId}", parent, "sql", s.time.toDouble)
        case s: SparkListenerSQLExecutionEnd => endSpan(s"sql${s.executionId}", s.time.toDouble)
        case _ =>
      }
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val phase = phaseOf(j.properties)
      j.stageIds.foreach(stageJob(_) = j.jobId)
      add("scheduler.jobs", 1)
      if (phase == "construct") add("operators.construct_jobs", 1)
      val sqlId = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .filter(id => open.contains(s"sql$id"))
      startSpan(s"job${j.jobId}", sqlId.map(id => s"sql$id").getOrElse(s"q$qid.$phase"),
        "job", j.time.toDouble)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      endSpan(s"job${j.jobId}", j.time.toDouble)
    }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
      val i = s.stageInfo
      add("scheduler.stages", 1)
      startSpan(s"stage${i.stageId}.${i.attemptNumber()}",
        stageJob.get(i.stageId).map(j => s"job$j").getOrElse(s"q$qid"), "stage",
        i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val i = s.stageInfo
      endSpan(s"stage${i.stageId}.${i.attemptNumber()}",
        i.completionTime.getOrElse(System.currentTimeMillis()).toDouble)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      add("scheduler.tasks", 1)
      val m = t.taskMetrics
      if (m != null) {
        val mb = 1048576.0
        add("scheduler.delay_s", math.max(0L, t.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime) / 1e3)
        add("executor.task_s", m.executorRunTime / 1e3)
        add("executor.cpu_s", m.executorCpuTime / 1e9)
        add("executor.gc_s", m.jvmGCTime / 1e3)
        add("executor.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / mb)
        max("executor.peak_exec_mb", m.peakExecutionMemory / mb)
        add("sources.input_mb", m.inputMetrics.bytesRead / mb)
        add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("functions.result_mb", m.resultSize / mb)
        add("sink.output_mb", m.outputMetrics.bytesWritten / mb)
        add("sink.output_rows", m.outputMetrics.recordsWritten.toDouble)
      }
    }
    override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = synchronized {
      b.blockUpdatedInfo.blockId match {
        case id: RDDBlockId =>
          val i = b.blockUpdatedInfo
          val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
          stored += size - blocks.getOrElse(id, 0L)
          if (size > 0) {
            blocks(id) = size
            if (pinnedRdds.getOrElseUpdate(qid, mutable.Set()).add(id.rddId))
              add("functions.pins", 1)
          } else blocks.remove(id)
          max("functions.pinned_mb", (stored - storedAtBegin) / 1048576.0)
        case _ =>
      }
    }

    def counters: Map[String, Map[String, Double]] = synchronized {
      c.map { case (q, m) => q.toString -> m.toMap }.toMap
    }
    def spans: Seq[Map[String, Any]] = synchronized { spanBuf.map(_.toMap).toSeq }
  }
}
