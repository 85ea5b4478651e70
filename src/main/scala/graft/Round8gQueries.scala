package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Queries.Q
import graft.functions.VectorFunctions
import graft.sources.Tables

/** Round-8 seventh batch: behavioral paths, exact mutual-nearest-
  * neighbor matching over a consistent bounded sample, and the CDC
  * snapshot drift audit — three operators a lake pipeline reads weekly.
  * The MNN query is the q188/q208 consistent-sample pattern applied to
  * matching: the md5-priority top-1000 makes the exact all-pairs cost
  * CONSTANT at any corpus scale. */
object Round8gQueries {

  def all: Seq[Q] = Seq(

    Q("q275_path_trigrams",
      // Top 3-event behavioral paths: per-user event trigrams via two
      // lags over the (user, time) order — user keys are the
      // parallelism — then one hash agg over the path-domain-bounded
      // (|types|^3) relation. The clickstream view q161's single-step
      // Markov transitions cannot give (a trigram separates
      // view>view>click from signup>view>click).
      Some("""WITH o AS (SELECT user_id, event_type e,
             |        LAG(event_type, 1) OVER (PARTITION BY user_id
             |                                 ORDER BY ts, event_id) p1,
             |        LAG(event_type, 2) OVER (PARTITION BY user_id
             |                                 ORDER BY ts, event_id) p2
             |      FROM events)
             |SELECT p2 || '>' || p1 || '>' || e AS path, CAST(COUNT(*) AS BIGINT) n
             |FROM o WHERE p2 IS NOT NULL GROUP BY 1
             |ORDER BY n DESC, path LIMIT 20""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("event_type").as("e"),
            lag(col("event_type"), 1).over(w).as("p1"),
            lag(col("event_type"), 2).over(w).as("p2"))
          .filter(col("p2").isNotNull)
          .select(concat_ws(">", col("p2"), col("p1"), col("e")).as("path"))
          .groupBy("path").agg(count(lit(1)).cast("long").as("n"))
          .orderBy(col("n").desc, col("path")).limit(20)
      }),

    Q("q276_mutual_nn",
      // EXACT mutual-nearest-neighbor pairs over the consistent
      // md5-priority top-1000 sample (the deterministic diagnostic
      // population q188/q208 established): a and b are each other's
      // top-1 by cosine. The bounded sample makes the exact quadratic
      // pass CONSTANT cost at any corpus size — the matching-quality
      // probe run beside the approximate ANN stack, and MNN pairs are
      // the standard seed for alignment/calibration sets. Cosine is the
      // bit-parity-pinned kernel every similarity oracle shares; the
      // top-1 is a max-struct hash agg, not a window.
      Some(s"""WITH smp AS (SELECT vec_id, embedding FROM embeddings
              |             ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1000),
              |p AS (SELECT a.vec_id ai, b.vec_id bi,
              |             ${TrainingQueries.cosOf("a.embedding", "b.embedding")} sim
              |      FROM smp a JOIN smp b ON a.vec_id <> b.vec_id),
              |t1 AS (SELECT ai, bi, sim,
              |         ROW_NUMBER() OVER (PARTITION BY ai ORDER BY sim DESC, bi) rn
              |       FROM p),
              |top AS (SELECT ai, bi, sim FROM t1 WHERE rn = 1)
              |SELECT x.ai a_id, x.bi b_id, ROUND(x.sim, 4) sim
              |FROM top x JOIN top y ON x.ai = y.bi AND x.bi = y.ai
              |WHERE x.ai < x.bi ORDER BY a_id""".stripMargin),
      (s, d) => {
        // norm hoisted out of the 1000² nested loop: one vector kernel per
        // pair instead of three (cosineWithNorms, bit-identical)
        val smp = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"))
          .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
          .limit(1000)
          .withColumn("_n", sqrt(VectorFunctions.normSq(col("embedding"))))
        val p = smp.as("a")
          .join(broadcast(smp.as("b")), col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("ai"), col("b.vec_id").as("bi"),
            VectorFunctions.cosineWithNorms(col("a.embedding"), col("b.embedding"),
              col("a._n"), col("b._n")).as("sim"))
        val top = p.groupBy("ai")
          .agg(max(struct(col("sim"), (-col("bi")).as("nb"))).as("w"))
          .select(col("ai"), (-col("w.nb")).as("bi"), col("w.sim").as("sim"))
        // mutual iff the unordered pair holds both directions' top-1: one
        // aggregate over `top`, not a self-join that plans it twice; the
        // pair's sim is the a_id -> b_id row's, as the oracle's x.sim
        top.groupBy(least(col("ai"), col("bi")).as("a_id"),
            greatest(col("ai"), col("bi")).as("b_id"))
          .agg(count(lit(1)).as("n"),
            max(when(col("ai") < col("bi"), col("sim"))).as("sim"))
          .filter(col("n") === 2)
          .select(col("a_id"), col("b_id"), round(col("sim"), 4).as("sim"))
          .orderBy("a_id")
      }),

    Q("q277_snapshot_diff",
      // CDC snapshot drift audit: the LWW snapshot at the stream's
      // temporal midpoint vs at its head — keys added / removed /
      // changed / unchanged, the report a lake owner reads after every
      // compaction window (q28 is the state, this is its derivative).
      // Both snapshots are one max-struct hash agg over the keyed CDC
      // relation (the q28 single-shuffle shape, never a window over
      // events); the midpoint anchor derives from the data.
      Some(s"""WITH base AS (${Queries.cdcOracleBase}),
              |anc AS (SELECT MIN(epoch_us(ts)) + (MAX(epoch_us(ts)) - MIN(epoch_us(ts)))//2 mid
              |        FROM base),
              |s1 AS (SELECT id, name, seqn FROM (
              |    SELECT id, name, CAST(seq AS BIGINT) seqn, event,
              |      ROW_NUMBER() OVER (PARTITION BY id, name ORDER BY ts DESC, event_id DESC) rn
              |    FROM base CROSS JOIN anc WHERE epoch_us(ts) <= anc.mid) t
              |  WHERE rn = 1 AND event <> 'REMOVE'),
              |s2 AS (SELECT id, name, seqn FROM (
              |    SELECT id, name, CAST(seq AS BIGINT) seqn, event,
              |      ROW_NUMBER() OVER (PARTITION BY id, name ORDER BY ts DESC, event_id DESC) rn
              |    FROM base) t
              |  WHERE rn = 1 AND event <> 'REMOVE'),
              |m AS (SELECT s1.seqn q1, s2.seqn q2
              |      FROM s1 FULL OUTER JOIN s2 ON s1.id = s2.id AND s1.name = s2.name)
              |SELECT CAST(SUM(CASE WHEN q1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) n_keys_t1,
              |       CAST(SUM(CASE WHEN q2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) n_keys_t2,
              |       CAST(SUM(CASE WHEN q1 IS NULL AND q2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) n_added,
              |       CAST(SUM(CASE WHEN q1 IS NOT NULL AND q2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) n_removed,
              |       CAST(SUM(CASE WHEN q1 IS NOT NULL AND q2 IS NOT NULL AND q1 <> q2 THEN 1 ELSE 0 END) AS BIGINT) n_changed,
              |       CAST(SUM(CASE WHEN q1 = q2 THEN 1 ELSE 0 END) AS BIGINT) n_unchanged
              |FROM m""".stripMargin),
      (s, d) => {
        val flat = Queries.cdcFlattened(s, d)
          .select(col("id"), col("name"),
            expr("unix_micros(ingestion_timestamp)").as("us"),
            col("seq").cast("long").as("seqn"), col("event"))
          .localCheckpoint(true) // anchor agg + two snapshots share it
        val anc = flat.agg(min("us").as("mn"), max("us").as("mx"))
          .select(expr("mn + (mx - mn) div 2").as("mid"))
        def snap(df: DataFrame, out: String): DataFrame =
          df.groupBy("id", "name")
            .agg(max(struct(col("us"), col("seqn"), col("event"))).as("w"))
            .filter(col("w.event") =!= "REMOVE")
            .select(col("id"), col("name"), col("w.seqn").as(out))
        val s1 = snap(flat.crossJoin(broadcast(anc)).filter(col("us") <= col("mid")), "q1")
        val s2 = snap(flat, "q2")
        s1.join(s2, Seq("id", "name"), "full_outer")
          .agg(
            sum(when(col("q1").isNotNull, 1L).otherwise(0L)).cast("long").as("n_keys_t1"),
            sum(when(col("q2").isNotNull, 1L).otherwise(0L)).cast("long").as("n_keys_t2"),
            sum(when(col("q1").isNull && col("q2").isNotNull, 1L).otherwise(0L))
              .cast("long").as("n_added"),
            sum(when(col("q1").isNotNull && col("q2").isNull, 1L).otherwise(0L))
              .cast("long").as("n_removed"),
            sum(when(col("q1").isNotNull && col("q2").isNotNull &&
              col("q1") =!= col("q2"), 1L).otherwise(0L)).cast("long").as("n_changed"),
            sum(when(col("q1") === col("q2"), 1L).otherwise(0L))
              .cast("long").as("n_unchanged"))
      })
  )
}
