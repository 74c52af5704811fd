package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.Q

/** Runs one benchmark workload in this JVM and writes a JSON record.
  *
  * An operation is one key: call the module's query function, then write
  * the full result as parquet under `<out>/<key>`. A pass is one
  * operation per key, in a fixed order. After one untimed warm-up pass
  * the harness runs whole passes until `seconds` have gone by.
  *
  * Usage: `perfbench.Harness --workload W --corpus DIR --out DIR
  *   --seconds S --trace 0|1 --result FILE`.
  */
object Harness {
  final case class Op(key: String, module: String, q: Q)

  private def pick(module: String, qs: Map[String, Q], keys: String*) =
    keys.map { k =>
      Op(k, module, qs.getOrElse(k, sys.error(s"$module has no key $k")))
    }

  /** Each workload's keys, in pass order. */
  val workloads: Map[String, Seq[Op]] = Map(
    "etl_pipeline" -> (
      pick("etl.Etl", graft.etl.Etl.queries, "etl_full_load", "etl_scd2") ++
        pick("ops.Scans", graft.ops.Scans.queries, "sink_jdbc_upsert") ++
        pick("stream.Streaming", graft.stream.Streaming.queries,
          "stream_checkpoint_resume")),
    "llm_curation" -> (
      pick("llm.Dedup", graft.llm.Dedup.queries, "llm_exact_dedup") ++
        pick("llm.Similarity", graft.llm.Similarity.queries, "llm_simsearch",
          "llm_knn_join") ++
        pick("llm.Curation", graft.llm.Curation.queries, "llm_token_count")),
    "tpch" -> (
      pick("ops.TpchSuite", graft.ops.TpchSuite.queries, "sql_tpch_q1",
        "sql_tpch_q6") ++
        pick("ops.SqlApi", graft.ops.SqlApi.queries, "sql_tpch_q3",
          "sql_tpch_q14")))

  /** Per-module sums over the timed passes of a traced run. */
  final class Layer {
    var wall, build, plan, gap, gc = 0.0
    var jobs, tasks, taskCpuNs, shuffleWrite, spill = 0L
  }

  /** Collects job, task and query-execution events between drains. */
  final class Tracer extends SparkListener with QueryExecutionListener {
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
    val qes = new ConcurrentLinkedQueue[QueryExecution]()
    @volatile var tasks, taskCpuNs, shuffleWrite, spill = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t => jobSpans.add((t, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        taskCpuNs += m.executorCpuTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = qes.add(qe)

    /** Move everything seen since the last call into `l`. `writeMs` is
      * when the final write began: query executions planned from then on
      * are the write's own, earlier ones ran inside the query function. */
    def collect(l: Layer, startMs: Long, endMs: Long, writeMs: Long): Unit = synchronized {
      var q = qes.poll()
      while (q != null) {
        val ph = q.tracker.phases.values
        if (ph.nonEmpty && ph.map(_.startTimeMs).min >= writeMs)
          l.plan += ph.map(_.durationMs).sum / 1e3
        q = qes.poll()
      }
      val spans = Iterator.continually(jobSpans.poll()).takeWhile(_ != null)
        .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
        .toSeq.sortBy(_._1)
      l.jobs += spans.size
      var covered = 0L
      var reach = startMs
      spans.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      l.gap += math.max(0L, endMs - startMs - covered) / 1e3
      l.tasks += tasks; l.taskCpuNs += taskCpuNs
      l.shuffleWrite += shuffleWrite; l.spill += spill
      tasks = 0; taskCpuNs = 0; shuffleWrite = 0; spill = 0
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs(): Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  /** Bytes this process has caused to be written to storage. */
  private def writeBytes(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith("write_bytes:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def jo(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${js(k)}:$v" }.mkString("{", ",", "}")
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val ops = workloads(a("workload"))
    val (corpus, out) = (a("corpus"), a("out"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)

    val tSession = System.nanoTime()
    val spark = graft.core.Sessions.build(cpus)
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val layers = mutable.LinkedHashMap[String, Layer]()
    val times = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val warmup = mutable.LinkedHashMap[String, Double]()
    val errors = mutable.LinkedHashMap[String, (Int, String)]()

    def runOp(op: Op, timed: Boolean): Unit = {
      val gc0 = gcMs()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var writeMs = Long.MaxValue
      var buildS = 0.0
      try {
        val df: DataFrame = op.q.fn(spark, corpus)
        buildS = (System.nanoTime() - t0) / 1e9
        writeMs = System.currentTimeMillis()
        df.write.mode("overwrite").parquet(s"$out/${op.key}")
      } catch {
        case e: Throwable if timed =>
          val (n, first) = errors.getOrElse(op.key, (0, null))
          errors(op.key) = (n + 1, Option(first)
            .getOrElse(s"${e.getClass.getName}: ${e.getMessage}"))
        case _: Throwable => // a warm-up failure shows again when timed
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      if (!timed) warmup(op.key) = wall
      else {
        times.getOrElseUpdate(op.key, mutable.ArrayBuffer()) += wall
        tracer.foreach { t =>
          BusAccess.drain(spark.sparkContext)
          val l = layers.getOrElseUpdate(op.module, new Layer)
          l.wall += wall; l.build += buildS; l.gc += (gcMs() - gc0) / 1e3
          t.collect(l, ms0, ms1, writeMs)
        }
      }
    }

    ops.foreach(runOp(_, timed = false))
    tracer.foreach { t =>
      BusAccess.drain(spark.sparkContext)
      t.collect(new Layer, 0L, 0L, Long.MaxValue)
    }

    val setupEndMs = System.currentTimeMillis()
    val stat0 = graft.core.HostProbe.procStat()
    val passes = mutable.ArrayBuffer[String]()
    val tRun = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - tRun) / 1e9 < seconds) {
      val (c0, w0, p0) = (cpuNs(), writeBytes(), System.nanoTime())
      ops.foreach(runOp(_, timed = true))
      passes += jo(Seq(
        "wall_s" -> num((System.nanoTime() - p0) / 1e9),
        "cpu_s" -> num((cpuNs() - c0) / 1e9),
        "write_bytes" -> (writeBytes() - w0).toString))
    }
    val n = passes.size
    val stat1 = graft.core.HostProbe.procStat()
    val host = {
      val d = stat1.indices.map(i => stat1(i) - stat0.lift(i).getOrElse(0L))
      val total = d.take(8).sum.toDouble.max(1.0)
      def pct(i: Int) = num(100.0 * d.lift(i).getOrElse(0L) / total)
      jo(Seq("steal_pct" -> pct(7), "idle_pct" -> pct(3),
        "loadavg" -> js(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim),
        "cpus" -> js(cpus)))
    }
    val peakKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

    val layerJson = layers.map { case (m, l) => m -> jo(Seq(
      "wall_s" -> num(l.wall / n), "build_s" -> num(l.build / n),
      "plan_s" -> num(l.plan / n), "driver_gap_s" -> num(l.gap / n),
      "jobs" -> num(l.jobs.toDouble / n), "tasks" -> num(l.tasks.toDouble / n),
      "task_cpu_s" -> num(l.taskCpuNs / 1e9 / n), "gc_s" -> num(l.gc / n),
      "shuffle_write_mb" -> num(l.shuffleWrite / 1e6 / n),
      "spill_mb" -> num(l.spill / 1e6 / n)))
    }
    val keys = ops.map { op =>
      val (nErr, err) = errors.getOrElse(op.key, (0, null))
      op.key -> jo(Seq(
        "module" -> js(op.module),
        "oracle" -> op.q.oracle.map(js).getOrElse("null"),
        "warmup_s" -> num(warmup.getOrElse(op.key, 0.0)),
        "times" -> times.getOrElse(op.key, Nil).map(num).mkString("[", ",", "]"),
        "errors" -> nErr.toString,
        "error" -> Option(err).map(js).getOrElse("null")))
    }
    val json = jo(Seq(
      "setup_end_ms" -> setupEndMs.toString,
      "sessions_build_s" -> num(sessionS),
      "jit_s" -> num(jitMs() / 1e3),
      "codegen_s" -> num(CodeGenerator.compileTime / 1e9),
      "peak_rss_kb" -> peakKb.toString,
      "host" -> host,
      "passes" -> passes.mkString("[", ",", "]"),
      "layers" -> jo(layerJson),
      "keys" -> jo(keys)))
    Files.writeString(Paths.get(a("result")), json)
    spark.stop()
  }
}
