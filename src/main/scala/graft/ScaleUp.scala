package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Dev tool: replicate a testdata sf dir N-fold with key-shifted copies,
  * preserving every cross-table join relationship (each replica shifts a
  * whole KEY SPACE by i·base, and every referencing column shifts with
  * it). Produces a larger synthetic scale factor for memory-cliff /
  * spill smoke tests of the full query inventory — NOT for correctness
  * (the oracle only covers the driver-generated dirs).
  *
  * Key-space bases are powers of ten comfortably above each space's max
  * at the source sf, chosen so q139's supplier/customer node-space
  * offset (1e6) still separates the spaces after replication.
  *
  * CONTENT columns are perturbed per replica, not copied verbatim: naive
  * replication gives every document/embedding N exact copies, so the
  * dedup/ANN tier's candidate-pair output grows quadratically in N — a
  * replication artifact, not a property of a real N-fold corpus
  * (measured: q143 137 s / q147 72 s on a verbatim 10x of sf0.1, vs
  * single-digit seconds perturbed). Documents substitute every 5th token
  * (residue i mod 5) with a replica-unique marker — shingle overlap
  * between any two replicas drops well below the 0.8 dedup thresholds —
  * and embeddings get a per-replica, per-component offset that changes
  * the vector's direction.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <destDir> [copies=10]
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dest = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark: SparkSession = GraftSession
      .builder(master = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]",
        shufflePartitions = 8)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val custB, orderB = 1000000L
    val suppB = 10000L
    val partB = 100000L
    val bigB = 10000000L // event/user/doc/vec ids

    def rep(table: String, shifts: Map[String, Long]): Unit = {
      val df = Tables.table(spark, src, table)
      val one: Long => DataFrame = i =>
        shifts.foldLeft(df) { case (acc, (c, base)) =>
          acc.withColumn(c, col(c) + lit(i * base))
        }
      val out = (0L until copies.toLong).map(one).reduce(_.unionByName(_))
      out.repartition(8).write.mode("overwrite").parquet(s"$dest/$table.parquet")
      println(s"[scaleup] $table x$copies -> $dest")
    }

    // dimension-of-dimensions stay single-copy (nation/region keys are
    // referenced unshifted everywhere)
    for (t <- Seq("nation", "region"))
      Tables.table(spark, src, t)
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")

    rep("customer", Map("c_custkey" -> custB))
    rep("orders", Map("o_orderkey" -> orderB, "o_custkey" -> custB))
    rep("lineitem", Map("l_orderkey" -> orderB, "l_partkey" -> partB,
      "l_suppkey" -> suppB))
    rep("part", Map("p_partkey" -> partB))
    rep("supplier", Map("s_suppkey" -> suppB))
    rep("events", Map("event_id" -> bigB, "user_id" -> bigB))

    // documents: shift ids AND perturb text per replica (see scaladoc)
    locally {
      val df = Tables.documents(spark, src)
      val out = (0L until copies.toLong).map { i =>
        val shifted = df.withColumn("doc_id", col("doc_id") + lit(i * bigB))
        if (i == 0L) shifted
        else shifted.withColumn("text",
          array_join(
            transform(split(col("text"), " "), (t, j) =>
              when(j % 5 === lit(i % 5),
                concat(lit(s"r${i}w"), j.cast("string"))).otherwise(t)),
            " "))
      }.reduce(_.unionByName(_))
      out.repartition(8).write.mode("overwrite").parquet(s"$dest/documents.parquet")
      println(s"[scaleup] documents x$copies (perturbed) -> $dest")
    }

    // embeddings: shift ids AND nudge each replica's direction
    locally {
      val df = Tables.embeddings(spark, src)
      val out = (0L until copies.toLong).map { i =>
        val shifted = df.withColumn("vec_id", col("vec_id") + lit(i * bigB))
        if (i == 0L) shifted
        else shifted.withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            (x + ((lit(i) * (j + 3)) % 7 - lit(3)).cast("float") * lit(0.08f))
              .cast("float")))
      }.reduce(_.unionByName(_))
      out.repartition(8).write.mode("overwrite").parquet(s"$dest/embeddings.parquet")
      println(s"[scaleup] embeddings x$copies (perturbed) -> $dest")
    }
    spark.stop()
  }
}
