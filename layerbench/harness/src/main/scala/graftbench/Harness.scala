package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftCache, GraftSession, SparkEntry}
import graft.functions.GraftFunctions
import graft.sources.Tables
import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, lit}

/** The JVM side of the benchmark. It only drives the engine through its
  * public API and records raw timings and events; `run.py` turns them into
  * metrics. Modes (arguments are `key=value`):
  *
  *  - `engine`: writes the engine's query names and DuckDB oracle SQL.
  *  - `setup`: builds the session, resolves the base tables, reports when
  *    it was ready, and stops.
  *  - `run`: setup, one cold pass, `warm` warm passes and a check pass in
  *    the same session. Results of the cold pass and of the check pass are
  *    written for the oracle check. The check pass constructs each query
  *    and writes its result, with no noop action; its times are not used,
  *    so no warm pass runs beside the check's writes. With `trace=1` a
  *    listener records jobs, stages and plans; warm passes alternate
  *    between untraced and traced so that the tracing overhead can be read
  *    off.
  */
object Harness {
  private val Inputs = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val baseEpochMs = System.currentTimeMillis()
  private val baseNano = System.nanoTime()
  private def nowUs: Long = baseEpochMs * 1000 + (System.nanoTime() - baseNano) / 1000

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs: Long = osBean.getProcessCpuTime
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    opt("mode") match {
      case "engine" =>
        write(opt("out"), Map(
          "queries" -> SparkEntry.queries.keys.toSeq.sorted,
          "oracle_sql" -> SparkEntry.oracleSql))
      case "setup" =>
        val (spark, stats) = setup(opt)
        write(opt("out"), stats)
        spark.stop()
      case "run" => run(opt)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(path: String, v: Any): Unit = json.writeValue(new File(path), v)

  private def setup(opt: Map[String, String]): (SparkSession, Map[String, Any]) = {
    val t0 = System.nanoTime()
    val spark = GraftSession.build(opt("cpus").toInt, "graftbench")
    val t1 = System.nanoTime()
    Inputs.foreach { t =>
      if (t == "events") Tables.events(spark, opt("data")) else Tables.table(spark, opt("data"), t)
    }
    val t2 = System.nanoTime()
    (spark, Map(
      "ready_epoch_ms" -> System.currentTimeMillis(),
      "session_build_s" -> (t1 - t0) / 1e9,
      "tables_resolve_s" -> (t2 - t1) / 1e9))
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}".take(500)

  private def phaseJson(ev: PhaseEvents): Map[String, Any] = Map(
    "jobs" -> ev.jobs.map(j => Map(
      "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stage_ids" -> j.stageIds)),
    "stages" -> ev.stages.map(s => Map(
      "id" -> s.id, "attempt" -> s.attempt, "start_ms" -> s.submitMs, "end_ms" -> s.endMs,
      "tasks" -> s.tasks, "task_run_ms" -> s.taskRunMs, "task_cpu_ns" -> s.taskCpuNs,
      "shuffle_write_bytes" -> s.shuffleWriteBytes, "shuffle_read_bytes" -> s.shuffleReadBytes,
      "spill_bytes" -> s.spillBytes, "input_bytes" -> s.inputBytes,
      "output_bytes" -> s.outputBytes)),
    "plans" -> ev.plans.map(p => Map(
      "phases" -> p.phases.map { case (k, (a, b)) => k -> Seq(a, b) },
      "exchanges" -> p.exchanges, "topk_nodes" -> p.topkNodes)))

  /** Files under `root` last modified at or after `sinceMs`. */
  private def filesWrittenSince(root: String, sinceMs: Long): Int = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.count { p =>
      Files.isRegularFile(p) && Files.getLastModifiedTime(p).toMillis >= sinceMs
    } finally s.close()
  }

  private def run(opt: Map[String, String]): Unit = {
    val (spark, setupStats) = setup(opt)
    val sc = spark.sparkContext
    val dir = opt("data")
    val queries = opt("queries").split(',').toSeq
    val fns = queries.map(q => q -> SparkEntry.queries(q)).toMap
    val seed = opt("seed").toLong
    val warmPasses = opt("warm").toInt
    val checkPass = warmPasses + 1
    val traced = opt("trace") == "1"
    val tmpRoot = System.getProperty("java.io.tmpdir")
    val rec = new Recorder
    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    def drained(): PhaseEvents = { Bus.drain(sc); rec.take() }

    def runQuery(q: String, pass: Int, tracedPass: Boolean): (Long, Long, Long) = {
      val persistedBefore = if (tracedPass) sc.getPersistentRDDs.keySet else Set.empty[Int]
      val cpu0 = cpuNs; val gc0 = gcMs
      val c0 = nowUs; val t0 = System.nanoTime()
      var error: String = null
      val df: DataFrame =
        try fns(q)(spark, dir) catch { case e: Throwable => error = errorText(e); null }
      val t1 = System.nanoTime(); val c1 = nowUs
      val cpu1 = cpuNs; val gc1 = gcMs
      val constructEv = if (tracedPass) drained() else null
      val cpu2 = cpuNs; val gc2 = gcMs
      val a0 = nowUs; val t2 = System.nanoTime()
      if (df != null && pass != checkPass) {
        try df.write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => error = errorText(e) }
      }
      val t3 = System.nanoTime(); val a1 = nowUs
      val cpu3 = cpuNs; val gc3 = gcMs
      val actionEv = if (tracedPass) drained() else null
      val pinsBuilt =
        if (tracedPass) (sc.getPersistentRDDs.keySet -- persistedBefore).size else 0
      // The correctness check re-runs the query outside the timed region
      // and leaves its result for run.py to compare with the oracle.
      var checkPath: String = null
      if (error == null && (pass == 0 || pass == checkPass)) {
        val path = s"${opt("check")}/$q/$pass"
        try { df.coalesce(1).write.mode("overwrite").parquet(path); checkPath = path }
        catch { case e: Throwable => error = "check: " + errorText(e) }
      }
      if (tracedPass) drained()
      val cpu = (cpu1 - cpu0) + (cpu3 - cpu2)
      val gc = (gc1 - gc0) + (gc3 - gc2)
      val row = mutable.LinkedHashMap[String, Any](
        "query" -> q, "pass" -> pass,
        "construct_s" -> (t1 - t0) / 1e9, "action_s" -> (t3 - t2) / 1e9,
        "cpu_s" -> cpu / 1e9, "gc_s" -> gc / 1e3,
        "error" -> error, "check_path" -> checkPath)
      if (tracedPass) {
        val analysis = Option(df).flatMap(_.queryExecution.tracker.phases.get("analysis"))
        row ++= Seq(
          "construct_us" -> Seq(c0, c1), "action_us" -> Seq(a0, a1),
          "df_analysis_ms" -> analysis.map(p => Seq(p.startTimeMs, p.endTimeMs)),
          "construct" -> phaseJson(constructEv), "action" -> phaseJson(actionEv),
          "pins_built" -> pinsBuilt)
      }
      execs += row.toMap
      ((t1 - t0) + (t3 - t2), cpu, gc)
    }

    def runPass(pass: Int, tracedPass: Boolean): Unit = {
      if (tracedPass) {
        rec.take()
        sc.addSparkListener(rec)
        spark.listenerManager.register(rec)
      }
      val startMs = System.currentTimeMillis()
      val startUs = nowUs
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
      var timedNs = 0L; var cpu = 0L; var gc = 0L
      order.foreach { q =>
        val (t, c, g) = runQuery(q, pass, tracedPass)
        timedNs += t; cpu += c; gc += g
      }
      val endUs = nowUs
      val row = mutable.LinkedHashMap[String, Any](
        "pass" -> pass, "traced" -> tracedPass, "check" -> (pass == checkPass), "order" -> order,
        "timed_s" -> timedNs / 1e9, "cpu_s" -> cpu / 1e9, "gc_s" -> gc / 1e3,
        "span_us" -> Seq(startUs, endUs))
      if (tracedPass) {
        Bus.drain(sc)
        sc.removeSparkListener(rec)
        spark.listenerManager.unregister(rec)
        rec.take()
        row ++= Seq(
          "pins_live" -> GraftCache.size,
          "storage_bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum,
          "sink_files" -> filesWrittenSince(tmpRoot, startMs))
      }
      passes += row.toMap
    }

    val workloadStartUs = nowUs
    runPass(0, traced)
    // Traced runs alternate untraced and traced warm passes.
    (1 to warmPasses).foreach(p => runPass(p, traced && p % 2 == 0))
    runPass(checkPass, false)
    val workloadEndUs = nowUs

    val kernels = if (traced) kernelRates(spark, dir) else Map.empty[String, Any]
    System.gc(); System.gc()
    val heapUsed = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val r0 = System.nanoTime()
    GraftCache.release()
    val releaseS = (System.nanoTime() - r0) / 1e9
    write(opt("out"), Map(
      "setup" -> setupStats, "cpus" -> opt("cpus").toInt,
      "workload_us" -> Seq(workloadStartUs, workloadEndUs),
      "passes" -> passes, "execs" -> execs, "kernels" -> kernels,
      "heap_live_bytes" -> heapUsed, "cache_release_s" -> releaseS))
    spark.stop()
  }

  /** Rows per second of each public `graft.functions` kernel, applied
    * once over the documents or the embeddings and written to the noop
    * sink, after an untimed application to the first 100 rows.
    * `simhash64` re-hashes every token once per bit (about a hundred
    * times the per-row cost of the others), so it runs over the first 500
    * documents only.
    */
  private def kernelRates(spark: SparkSession, dir: String): Map[String, Any] = {
    import GraftFunctions._
    val docs = Tables.documents(spark, dir)
    val embs = Tables.embeddings(spark, dir)
    val rnd = new scala.util.Random(7)
    val dims = embs.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val probe: Column = array((0 until dims).map(_ => lit(rnd.nextGaussian())): _*)
    val codebook = Array.fill(16, dims)(rnd.nextGaussian())
    val v = asDoubleArray(col("embedding"))
    val kernels: Seq[(String, DataFrame, Column)] = Seq(
      ("shingle_hashes", docs, shingleHashes(col("text"), 5)),
      ("minhash_signature", docs, minhashSignature(shingleHashes(col("text"), 5), 64)),
      ("simhash64", docs.limit(500), simhash64(tokens(col("text")))),
      ("winnow", docs, winnowFingerprints(col("text"), 5, 4)),
      ("cosine_sim", embs, cosineSim(v, probe)),
      ("pq_reconstruct", embs, pqReconstruct(v, codebook, 8)))
    kernels.map { case (name, input, kernel) =>
      val rows = input.count()
      input.limit(100).select(kernel).write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      input.select(kernel).write.format("noop").mode("overwrite").save()
      name -> Map("rows" -> rows, "seconds" -> (System.nanoTime() - t0) / 1e9)
    }.toMap
  }
}
