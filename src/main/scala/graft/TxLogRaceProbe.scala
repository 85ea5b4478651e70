package graft

import org.apache.spark.sql.SparkSession

/** TEST FIXTURE, not an entry point: the forked-JVM writer that
  * `TxLogRaceSpec` launches (it lives in main only so the child JVM finds
  * it on the plain classpath). Appends
  * `n` one-row generations to `zone`, each tagged with this writer's
  * name, relying ONLY on the log's create-exclusive generation claim to
  * serialize against whatever other process is appending to the same
  * zone at the same time. [[graft.operators.TxLog]]'s claim is
  * `FileSystem.create(path, overwrite = false)` — atomic on the same
  * local FS across PROCESSES, not just threads, which is exactly the
  * half a same-JVM spec cannot prove (two drivers on one warehouse is
  * the deployment shape that hits it: a real lake's writers are separate
  * Spark applications, never threads of one JVM).
  *
  * Usage: `TxLogRaceProbe <zone> <writerTag> <nAppends>`; prints
  * `race-probe done <tag> <n>` on success — the spec greps for it. */
object TxLogRaceProbe {
  def main(args: Array[String]): Unit = {
    val Array(zone, tag, n) = args.take(3)
    val spark: SparkSession = GraftSession
      .builder(master = "local[2]", shufflePartitions = 2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    for (i <- 0 until n.toInt)
      graft.operators.TxLog.append(spark, zone, Seq((tag, i)).toDF("writer", "i"))
    spark.stop()
    println(s"race-probe done $tag $n")
  }
}
