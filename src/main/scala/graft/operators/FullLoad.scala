package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The reference's one-shot full-load batch job, Spark-first.
  *
  * Reference: `lib/glue_jobs/ddb_full_load.py` — parallel DynamoDB scan
  * split into N ranges (`:56-65`), `repartition(cpu_count)` (`:67-69`),
  * purge-then-write Parquet (`:73-82`). Our pipeline is
  * `read -> repartition(n) -> write.mode(Overwrite).parquet` — the purge+write
  * pair collapses to non-transactional Overwrite (same semantics, A5), and
  * the eager `dyf.show()` double-scan (`:66`) is dropped behind a verbose
  * flag (SURVEY §7.4).
  */
object FullLoad {

  /** A2: the reference's scan-split heuristic (`ddb_full_load.py:39-47`),
    * mapping a worker-fleet shape to a parallelism degree. The reference
    * formula is degenerate (negative) at numWorkers=1; we clamp to >= 1
    * (documented deviation, SURVEY §7.4). */
  def splitCount(workerType: String, numWorkers: Int): Int = {
    val raw = workerType match {
      case "G.2X" => 16 * (numWorkers - 1)
      case "G.1X" => 8 * (numWorkers - 1)
      case _      => 4 * ((numWorkers - 1) * 2 - 1)
    }
    math.max(1, raw)
  }

  /** Columnar formats the full-load zone supports; parquet is the
    * reference's choice (`ddb_full_load.py:79`), orc the common
    * alternative both Spark and the downstream catalogs read natively. */
  val SupportedFormats: Set[String] = Set("parquet", "orc")

  /** Full-load pipeline: snapshot a source table into the lake's full-load
    * zone as a columnar table. One exchange (the explicit repartition
    * controlling output file count, A4); everything else is scan -> write. */
  def run(src: DataFrame, destPath: String,
          outputPartitions: Int = Runtime.getRuntime.availableProcessors(),
          verbose: Boolean = false, format: String = "parquet"): Unit = {
    require(SupportedFormats(format), s"unsupported full-load format: $format")
    if (verbose) src.show() // the reference's eager preview (ddb_full_load.py:66)
    src.repartition(outputPartitions)
      .write.mode(SaveMode.Overwrite)
      .format(format)
      .save(destPath)
  }

  /** Full load straight from a pluggable segmented connector
    * ([[graft.sources.SegmentedScan]] — the reference's parallel DynamoDB
    * scan boundary): `splits` scan tasks (A1/A2 via [[splitCount]]),
    * then the standard repartition -> columnar write (A4/A5/A6). */
  def runScan(spark: SparkSession, source: graft.sources.SegmentedScan,
              splits: Int, destPath: String,
              outputPartitions: Int = Runtime.getRuntime.availableProcessors(),
              verbose: Boolean = false, format: String = "parquet"): Unit =
    run(graft.sources.SegmentedScan.toDataFrame(spark, source, splits),
      destPath, outputPartitions, verbose, format)

  def readBack(spark: SparkSession, destPath: String,
               format: String = "parquet"): DataFrame =
    graft.sources.Tables.load(spark, destPath, format)
}
