package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One benchmark run of one workload, measured from outside the program.
  *
  * A single client thread calls the workload's `SparkEntry.queries`
  * functions one after another (a closed loop, like the batch job). Each
  * call is split at the public entry points:
  *  - construct: the query function, up to the DataFrame it returns;
  *  - plan: `df.queryExecution.executedPlan`;
  *  - execute: the noop-sink write `graft.Bench` times.
  *
  * Order of a run: session (the `graft.Bench` confs), one untimed pass
  * writing every output to parquet for the DuckDB oracle (it also warms
  * the JIT for the timed passes), then timed passes until `--seconds` have
  * passed and at least `MinPasses` ran. With `--trace 1` every second
  * pass from the third on is traced: a job group per phase and a
  * SparkListener record jobs, stages, tasks and stream trigger progress,
  * and leak probes run after each query. Untraced
  * passes run with none of that, so the traced run also yields the
  * tracing overhead.
  *
  * Everything is written as JSON lines to `<out>/spans.jsonl`; the Python
  * side (`perfbench/run.py`) derives every metric from it. Times are
  * epoch milliseconds, on the same clock as the listener's event times.
  */
object Harness {
  private val epochBaseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now(): Double = (System.nanoTime() + epochBaseNs) / 1e6

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  /** One JSON line; `None` is written as null. */
  private def obj(kv: (String, Any)*): String = mapper.writeValueAsString(kv.toMap)

  /** Raw events of the traced passes, kept in memory until the run ends. */
  final class Recorder(out: ConcurrentLinkedQueue[String]) extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      out.add(obj("k" -> "job", "id" -> e.jobId, "t0" -> e.time, "group" -> group,
        "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      out.add(obj("k" -> "job_end", "id" -> e.jobId, "t1" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      out.add(obj("k" -> "stage", "id" -> s.stageId, "attempt" -> s.attemptNumber(),
        "t0" -> s.submissionTime.getOrElse(0L), "t1" -> s.completionTime.getOrElse(0L),
        "tasks" -> s.numTasks, "failed" -> s.failureReason.isDefined))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
      out.add(obj("k" -> "task", "stage" -> e.stageId, "attempt" -> e.stageAttemptId,
        "t0" -> i.launchTime, "t1" -> i.finishTime, "ok" -> i.successful,
        "run_ms" -> g(_.executorRunTime), "cpu_ns" -> g(_.executorCpuTime),
        "gc_ms" -> g(_.jvmGCTime),
        "shuffle_w" -> g(_.shuffleWriteMetrics.bytesWritten),
        "shuffle_r" -> g(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
        "spill" -> g(_.diskBytesSpilled), "peak_mem" -> g(_.peakExecutionMemory),
        "in_b" -> g(_.inputMetrics.bytesRead), "in_r" -> g(_.inputMetrics.recordsRead),
        "out_b" -> g(_.outputMetrics.bytesWritten), "out_r" -> g(_.outputMetrics.recordsWritten)))
    }
    // Stream progress reaches every listener of the context's bus, whichever
    // session runs the query (StreamOps runs its queries in child sessions,
    // whose StreamingQueryListeners the benchmark's session cannot see).
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        val d = p.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        out.add(obj("k" -> "trigger", "t0" -> java.time.Instant.parse(p.progress.timestamp).toEpochMilli,
          "batch_ms" -> p.progress.batchDuration,
          "commit_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L))))
      case _ => ()
    }
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def errorOf(body: => Unit): Option[String] =
    try { body; None }
    catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val Seq(data, out, work) = Seq("data", "out", "work").map(opt)
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores")
    val all = graft.SparkEntry.queries
    val queries = opt("queries").split(",").toSeq.map(n =>
      n -> all.getOrElse(n, throw new IllegalArgumentException(s"unknown query $n")))

    val lines = new ConcurrentLinkedQueue[String]()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      // the graft.Bench session, plus where Spark may write: inside the run's work dir
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    lines.add(obj("k" -> "session", "t" -> now()))
    val baseConf = spark.conf.getAll.keySet

    // Correctness pass, untimed, with the writer graft.Verify uses. It is
    // also the warm-up, so graft.Bench's own warm-up is left out; its
    // warehouse reset is not needed, as every run gets a fresh warehouse.
    queries.foreach { case (name, fn) =>
      val t0 = now()
      val err = errorOf(fn(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/results/$name"))
      err.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
      lines.add(obj("k" -> "check", "q" -> name, "t0" -> t0, "t1" -> now(), "err" -> err))
    }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      mapper.writeValueAsString(queries.map { case (n, _) => n -> graft.SparkEntry.oracleSql(n) }.toMap))

    val recorder = new Recorder(lines)
    val catalog = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.catalog
    def probe(pass: Int, name: String): Unit = {
      val cached = sc.getRDDStorageInfo
      val views = catalog.getTempViewNames().size + catalog.globalTempViewManager.listViewNames("*").size
      lines.add(obj("k" -> "probe", "pass" -> pass, "q" -> name,
        "cached_bytes" -> cached.map(i => i.memSize + i.diskSize).sum,
        "cached_rdds" -> sc.getPersistentRDDs.size, "temp_views" -> views,
        "conf_added" -> (spark.conf.getAll.keySet -- baseConf).size))
    }

    val ready = now()
    lines.add(obj("k" -> "ready", "t" -> ready))
    var pass = 0
    // A traced run traces passes 2, 4, ...: each is bracketed by untraced
    // ones and pass 0 is left out of the comparison, so the JIT's warm-up
    // trend mostly cancels out of the tracing overhead.
    while (pass < (if (traced) MinPasses max 4 else MinPasses) || now() - ready < seconds * 1000) {
      val tracing = traced && pass >= 2 && pass % 2 == 0
      if (tracing) sc.addSparkListener(recorder)
      val p0 = now()
      queries.foreach { case (name, fn) =>
        // Each phase is timed around its own body; the call's wall is timed
        // apart from them, so the check that the phases cover it can fail.
        val phases = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
        def phase(i: Int)(body: => Unit): Unit = {
          if (tracing) sc.setJobGroup(s"pb|$pass|$name|${Phases(i)}", "perfbench")
          val a = now()
          try body finally phases(Phases(i)) = Seq(a, now())
        }
        val t0 = now()
        var df: DataFrame = null
        val err = errorOf {
          phase(0) { df = fn(spark, data) }
          phase(1) { df.queryExecution.executedPlan }
          phase(2) { df.write.format("noop").mode("overwrite").save() }
        }
        if (tracing) { sc.clearJobGroup(); probe(pass, name) }
        val t1 = now()
        err.foreach(e => System.err.println(s"[perfbench] pass $pass $name failed: $e"))
        lines.add(obj("k" -> "query", "pass" -> pass, "q" -> name, "t0" -> t0, "t1" -> t1,
          "phases" -> phases, "err" -> err))
      }
      val p1 = now()
      if (tracing) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(recorder)
      }
      lines.add(obj("k" -> "pass", "pass" -> pass, "traced" -> tracing, "t0" -> p0, "t1" -> p1))
      pass += 1
    }
    lines.add(obj("k" -> "end", "t" -> now(), "vmhwm_kb" -> vmHwmKb()))
    spark.stop()
    val w = new PrintWriter(new File(s"$out/spans.jsonl"), "UTF-8")
    try lines.asScala.foreach(w.println) finally w.close()
  }

  private val Phases = Seq("construct", "plan", "execute")
  private val MinPasses = 2
}
