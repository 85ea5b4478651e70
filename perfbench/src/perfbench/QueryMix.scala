package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Read-only passes over a fixed subset of the query inventory, one
  * closed-loop client, each pass in a seeded shuffled order, on tables
  * generated from the seed. A query runs to completion through the
  * `noop` sink, so every projection is computed and nothing is
  * collected. */
final class QueryMix(spark: SparkSession, work: String, seed: Long, trace: Trace)
    extends Workload {
  private val Sf = 0.005

  private val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
  private val dataDirs = mutable.ArrayBuffer.empty[String]
  private val queries = QueryMix.Names.map(n => n -> graft.SparkEntry.queries(n))

  /** Every repetition writes its own copy of the tables; warm-up reads the
    * first, the timed passes the last, whose session caches (TxLog zones,
    * checkpointed relations, keyed by directory) are then still empty. */
  override def setup(rep: Int): Double = {
    val dir = s"$work/data$rep"
    val t0 = System.nanoTime()
    trace.span("gen.tables")(Gen.writeTables(spark, seed, Sf, dir))
    dataDirs += dir
    (System.nanoTime() - t0) / 1e9
  }

  private def shuffled(): Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    val a = queries.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** Every query execution that threw, in any pass, as "name (pass)";
    * one fails the run's check. */
  private val failures = mutable.ArrayBuffer.empty[String]

  /** One pass: (pass seconds, seconds of each query that completed,
    * failed query names). */
  private def pass(dataDir: String, label: String): (Double, Map[String, Double], Seq[String]) = {
    val times = mutable.LinkedHashMap.empty[String, Double]
    val failed = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    shuffled().foreach { case (name, fn) =>
      val q0 = System.nanoTime()
      try {
        trace.span(s"query.$name") {
          fn(spark, dataDir).write.format("noop").mode("overwrite").save()
        }
        times(name) = (System.nanoTime() - q0) / 1e9
      } catch { case e: Exception =>
        failed += name
        System.err.println(s"[perfbench] $name failed: $e")
      }
    }
    failures ++= failed.map(n => s"$n ($label)")
    ((System.nanoTime() - t0) / 1e9, times.toMap, failed.toSeq)
  }

  /** Passes over the first copy of the tables; the first of them also
    * pays class loading and code generation. */
  override def warmUp(): Map[String, Any] =
    Steady.warm(window = 1, tol = 0.10, minUnits = 3, maxUnits = 3, maxSeconds = 120.0) {
      () => pass(dataDirs.head, "warm-up")._1
    }

  /** The first pass over the timed copy on a warm JVM: it pays every
    * session-cache fill (TxLog zones, checkpointed relations), so work
    * moved into those caches shows here. */
  override def cold(): Double = pass(dataDirs.last, "cache-cold pass")._1

  override def measure(seconds: Double, traced: Boolean): Map[String, Any] = {
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var failed = 0
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val (s, per, f) = trace.span("query.pass")(pass(dataDirs.last, "timed pass"))
      failed += f.size
      passes += Map("pass_s" -> s, "query_s" -> per, "failed" -> f)
    }
    Map("elapsed_s" -> (System.nanoTime() - t0) / 1e9,
      "attempted" -> passes.size * queries.size, "failed" -> failed,
      "passes" -> passes.toList)
  }

  /** Writes every query's result and its oracle SQL under `<work>/oracle`
    * (the Verify layout); `run.py` compares them against DuckDB on the
    * same tables. Here the queries that threw, in any pass or while
    * writing the results, are reported. */
  override def check(): Map[String, (Boolean, String)] = {
    val out = s"$work/oracle"
    val errors = mutable.ArrayBuffer.empty[String]
    queries.foreach { case (name, fn) =>
      try fn(spark, dataDirs.last).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      catch { case e: Exception => errors += s"$name: $e" }
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.write(Paths.get(s"$out/oracle_sql.json"), Json.render(
      QueryMix.Names.map(n => n -> oracle(n)).toMap).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(s"$out/data_dir"), dataDirs.last.getBytes(StandardCharsets.UTF_8))
    val all = failures.toSeq ++ errors
    Map("queries_ran" -> (all.isEmpty,
      if (all.isEmpty) "no query threw" else all.take(10).mkString("; ")))
  }
}

object QueryMix {
  /** One or more queries per layer the read path crosses: TPC-H-shaped
    * relational plans, the CDC read model, TxLog manifest-pruned and
    * time-travel reads, text/dedup/ANN kernels, and the custom
    * operators. */
  val Names: Seq[String] = Seq(
    "q08_join_multiway", "q124_tpch_q3", "q28_cdc_snapshot", "q148_cdc_scd2",
    "q156_txlog_pruned_read", "q158_txlog_time_travel",
    "q36_dedup_ngram_jaccard", "q276_mutual_nn", "q187_shared_span")
}
