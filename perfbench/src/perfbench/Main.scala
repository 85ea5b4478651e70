package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload and writes its raw
  * observations as JSON for `perfbench/run.py`, which derives and prints
  * the metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outJson>
  *
  * Sequence: set-up x4 (the first runs on a cold JVM; the median of the
  * other three is the set-up time; the state of the last one is used),
  * the warm-up, the cold unit, the timed phase, then the checks. A traced
  * run times the phase twice, first without and then with spans and
  * listeners, so the tracing overhead is measured in the same JVM; a
  * traced `cdc_lake` run then drains the streaming lake once
  * ([[StreamLake]]), traced, for the stateful-operator and ANN layers. */
object Main {
  val SetupReps = 4

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, out) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val spark = graft.GraftSession
      .builder(master = "local[4]", shufflePartitions = 4)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.graft.warehouse", s"$work/warehouse/graft")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.registerAll(spark)
    val trace = new Trace(spark, s"$workload-$seed")
    val w: Workload = workload match {
      case "cdc_lake" => new CdcLake(spark, work, seed, trace)
      case "query_mix" => new QueryMix(spark, work, seed, trace)
      case other => sys.error(s"unknown workload '$other'")
    }
    val t0 = System.nanoTime()
    def log(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val result = try {
      if (traced) trace.enable()
      val setups = (1 to SetupReps).map(w.setup)
      trace.disable()
      log("set-up done")
      val warm = w.warmUp()
      log("warm-up done")
      val cold = w.cold()
      log("cold unit done")
      val phases = (if (traced) Seq(false, true) else Seq(false)).map { t =>
        if (t) trace.enable()
        trace.openWindow()
        val start = Clock.nowMs
        val m = w.measure(seconds, t)
        val end = Clock.nowMs
        val (heapMb, gcS) = trace.closeWindow()
        trace.disable()
        m ++ Map("traced" -> t, "start_ms" -> start, "end_ms" -> end,
          "heap_after_gc_mb" -> heapMb, "gc_s" -> gcS)
      }
      log("timed phases done")
      val checks = w.check()
      log("checks done")
      val streamlake = if (traced && workload == "cdc_lake") {
        trace.enable()
        val (drain, check) = new StreamLake(spark, work, seed, trace).run()
        trace.disable()
        log("streaming-lake drain done")
        Some(drain -> check)
      } else None
      Map("workload" -> workload, "seed" -> seed, "setup_s" -> setups.toList,
        "cold_s" -> cold, "warmup" -> warm, "phases" -> phases,
        "streamlake" -> streamlake.map(_._1),
        "checks" -> (checks ++ streamlake.map(s =>
            "streamlake_sliced_drain_matches_one_trigger_drain" -> s._2))
          .map { case (k, (ok, detail)) => k -> Map("ok" -> ok, "detail" -> detail) },
        "trace" -> trace.dump())
    } finally {
      w.close()
      trace.close()
    }
    Files.write(Paths.get(out), Json.render(result).getBytes(StandardCharsets.UTF_8))
    log("raw output written")
    spark.stop()
    log("stopped")
  }
}

/** Minimal JSON writer for the raw-observation dump. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
