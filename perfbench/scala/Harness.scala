package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One timed closed-loop operation: a pass step or a served request. */
final case class Op(kind: String, index: Int, ms: Double, ok: Boolean,
    error: String, info: Map[String, Any]) {
  def withInfo(more: Map[String, Any]): Op = copy(info = info ++ more)
}

object Op {
  /** Times `body`; an exception becomes a failed op that is kept. */
  def timed(kind: String, index: Int)(body: => Map[String, Any]): Op = {
    val t0 = System.nanoTime()
    try {
      val info = body
      Op(kind, index, (System.nanoTime() - t0) / 1e6, ok = true, null, info)
    } catch {
      case NonFatal(e) =>
        Op(kind, index, (System.nanoTime() - t0) / 1e6, ok = false,
          s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}", Map.empty)
    }
  }
}

/** A benchmark workload driven through the engine's public API. */
trait Workload {
  /** Program-side preparation after the session starts; timings in s. */
  def prepare(spark: SparkSession): Map[String, Double] = Map.empty
  /** Untimed work before the loop: a warm-up on a small input, client-side
    * loading.
    */
  def beforeLoop(spark: SparkSession): Unit
  /** One closed-loop step (a pass or a request). */
  def step(spark: SparkSession, tr: Tracer, i: Int): Seq[Op]
  /** Kernel microbenchmarks, traced runs only (ns per row). */
  def kernels(spark: SparkSession): Map[String, Double] = Map.empty
  /** Untimed work after the loop whose output the checks read. */
  def finish(spark: SparkSession, ops: Seq[Op]): Map[String, Any]
}

object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def startSession(cores: Int): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    GraftSession.tune(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Closed loop for `seconds` and at least `minSteps` steps; returns the
    * ops, the wall seconds and the next step index.
    */
  private def loop(w: Workload, spark: SparkSession, tr: Tracer, seconds: Double,
      minSteps: Int, first: Int): (Seq[Op], Double, Int) = {
    val ops = mutable.ArrayBuffer[Op]()
    val t0 = System.nanoTime()
    var i = first
    while (i < first + minSteps || (System.nanoTime() - t0) / 1e9 < seconds) {
      ops ++= w.step(spark, tr, i)
      i += 1
    }
    (ops.toSeq, (System.nanoTime() - t0) / 1e9, i)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val cores = plan.get("cores").asInt()
    val seconds = plan.get("seconds").asDouble()
    val trace = plan.get("trace").asBoolean()
    val work = plan.get("work").asText()
    Files.createDirectories(Paths.get(work))
    val w: Workload = plan.get("workload").asText() match {
      case "etl_fleet" => new EtlFleet(plan.get("data"), work)
      case "corpus_curation" => new CorpusCuration(plan.get("data"), work)
      case "ann_serving" => new AnnServing(plan.get("data"), work,
        Option(plan.get("inject")).map(_.asText()).getOrElse(""))
    }
    val out = mutable.LinkedHashMap[String, Any]()

    // set-up, several times: session start plus program-side preparation
    var spark: SparkSession = null
    val setups = (0 until plan.get("setups").asInt()).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val (s, sessionS) = secs(startSession(cores))
      spark = s
      val (prep, prepS) = secs(w.prepare(spark))
      Map("session_s" -> sessionS, "prepare_s" -> prepS, "total_s" -> (sessionS + prepS),
        "prepare" -> prep)
    }
    out("setups") = setups
    w.beforeLoop(spark)

    val untracedSeconds = if (trace) seconds / 2 else seconds
    val minSteps = plan.get("min_steps").asInt()
    val (ops, loopS, next) = loop(w, spark, new Tracer(spark.sparkContext, false),
      untracedSeconds, minSteps, 0)
    out("ops") = ops
    out("loop_s") = loopS
    var allOps = ops
    if (trace) {
      val sc = spark.sparkContext
      val jobs = new SpanListener
      val plans = new PlanListener
      sc.addSparkListener(jobs)
      spark.listenerManager.register(plans)
      val tr = new Tracer(sc, true)
      val (tops, tloopS, _) = loop(w, spark, tr, seconds - untracedSeconds, 1, next)
      org.apache.spark.BusBridge.drain(sc)
      spark.listenerManager.unregister(plans)
      sc.removeSparkListener(jobs)
      allOps = ops ++ tops
      out("traced") = Map(
        "ops" -> tops, "loop_s" -> tloopS,
        "spans" -> tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "storage_start_mb" -> s.storageStartMb, "storage_end_mb" -> s.storageEndMb)).toSeq,
        "spark" -> jobs.toJson,
        "plans" -> plans.records.toSeq,
        "kernels" -> w.kernels(spark))
    }
    val (fin, finS) = secs {
      try w.finish(spark, allOps)
      catch { case NonFatal(e) => Map("error" -> s"${e.getClass.getName}: ${e.getMessage}") }
    }
    out("finish") = fin
    out("finish_s") = finS
    out("facts") = Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq,
      "cores" -> cores)
    spark.stop()
    out("peak_rss_mb") = peakRssMb()
    mapper.writeValue(new File(plan.get("out").asText()), out)
  }

  /** Shared JSON helpers for the workloads. */
  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
  def int(n: JsonNode, field: String): Int = n.get(field).asInt()
}
