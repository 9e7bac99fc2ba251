package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.util.Bounded

/** Hybrid-retrieval rank fusion — the glue between the engine's sparse
  * (BM25/tf-cosine full-text) and dense (ANN cosine) rankings.
  *
  * Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009): each system
  * contributes 1/(k + rank) per retrieved id; ids are ranked by the summed
  * contribution. RRF needs no score calibration between systems — ranks
  * are the only input — which is why it is the standard first fusion in
  * retrieval-augmented pipelines.
  *
  * Contributions are scaled integers (`1e9 div (k + rank)`), never
  * floating-point reciprocals, so fused scores replay bit-for-bit in ANSI
  * SQL and ties break identically everywhere.
  *
  * Scale posture: inputs are TOP-K LISTS by construction (Σ systems × k
  * rows, thousands at most), so the one aggregation and the global rank
  * window here run on a frame that is bounded by the query's k, not the
  * corpus — the corpus-sized work already happened inside each system's
  * own (scan-efficient) ranking.
  */
object Retrieval {

  /** Fuse rank-bounded retrieval lists. Each input frame carries
    * (id, rank) with rank 1-based; returns (id, rrf_scaled, n_systems,
    * rank) — top `topN` by fused score, ties by ascending id.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 60, topN: Int = 10)
      : DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k >= 0 && topN > 0)
    val contribs = rankings.map(_.select(col("id"),
      expr(s"cast(1000000000 as bigint) div (cast($k as bigint) + rank)")
        .as("contrib")))
    val fused = contribs.reduce(_ unionByName _)
      .groupBy("id")
      .agg(sum(col("contrib")).as("rrf_scaled"),
           count(lit(1)).as("n_systems"))
    // global window over the k-bounded fused frame (see scale posture)
    val w = Window.orderBy(col("rrf_scaled").desc, col("id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topN)
      .select("id", "rrf_scaled", "n_systems", "rank")
  }

  /** Maximal Marginal Relevance diversification (Carbonell & Goldstein
    * 1998): greedily re-rank a retrieval candidate list so each pick
    * maximizes `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — relevance
    * traded against redundancy with what is already shown. The standard
    * post-processing between ANN retrieval and a context window: without
    * it, the top-k of a deduplicated-but-clustered corpus is k near-copies.
    *
    * Exactness: relevance and pairwise similarity are micro-unit longs
    * (round(cosine·10^6) — the repo's shared float discipline) and λ is a
    * PERCENTAGE, so the marginal score `λ·rel − (100−λ)·maxsim` is exact
    * integer arithmetic: picks and tie-breaks (score desc, vec_id asc)
    * replay bit-for-bit in ANSI SQL. The first pick uses the same formula
    * with maxsim = 0 (empty selected set).
    *
    * Scale posture: `candidates` is a TOP-K frame by construction (queries
    * × k rows — the corpus-sized work already happened in the ANN stage),
    * so the pairwise-similarity frame is queries × k² bounded rows. Under
    * the size guard ([[graft.util.Bounded]]) the greedy loop runs
    * DRIVER-SIDE over the collected micro-frames (measured 6.3s →
    * sub-second at sf0.1). A large batch (re-ranking for millions of
    * queries at once) exceeds the guard and takes the distributed loop:
    * per-query windows over the bounded pair frame, one materialized round
    * per pick. Both paths are the same integer arithmetic — bit-identical
    * picks (spec-pinned). The greedy dependence
    * is inherent to MMR — pick i+1 is defined on picks 1..i — but nothing
    * here ever touches the corpus.
    *
    * @param emb        (vec_id, embedding) — vectors for candidate pairs
    * @param candidates (q_id, vec_id, score) — e.g. Similarity ANN output
    * @param select     how many results to keep per query
    * @param lambdaPct  λ as a percentage (50 = equal weight)
    */
  def mmrDiversify(emb: DataFrame, candidates: DataFrame, select: Int,
                   lambdaPct: Int = 50): DataFrame =
    mmrDiversify(emb, candidates, select, lambdaPct, driverMax = 100000)

  private[graft] def mmrDiversify(emb: DataFrame, candidates: DataFrame,
                                  select: Int, lambdaPct: Int,
                                  driverMax: Int): DataFrame = {
    require(select > 0 && lambdaPct >= 0 && lambdaPct <= 100)
    import graft.util.Fixpoint.materialize
    // ids are cast to long up front so the driver fast path and the
    // distributed loop accept and emit IDENTICAL types for the same
    // logical input (an integer-typed candidate frame must not succeed on
    // one size-dependent path and ClassCastException on the other)
    val cand = materialize(candidates.select(
      col("q_id").cast(LongType).as("q_id"),
      col("vec_id").cast(LongType).as("vec_id"),
      round(col("score") * 1e6).cast(LongType).as("rel_micro")))
    // candidate vectors: the id set is queries×k by construction, so for
    // any sane k it collects (bounded, like BPE's one-row merge picks) and
    // pushes an In() filter into the embedding scan — a point lookup with
    // row-group pruning, not a 100 TB corpus scan to fetch a few dozen
    // vectors. A pathological candidate set falls back to the plain join.
    val eAll = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val e = Bounded.collect(cand.select("vec_id").distinct(), 10000) match {
      case Some(ids) => eAll.filter(col("vec_id").isin(ids.map(_.getLong(0)).toSeq: _*))
      case None => eAll
    }
    val withV = cand.join(e, "vec_id")
    // lazy: when the candidate count alone already exceeds the driver
    // guard, the distributed loop materializes the pair frame on first
    // use and the fast-path probe never pays for it
    lazy val pairs = materialize(withV
      .select(col("q_id"), col("vec_id").as("a_id"), col("v").as("av"))
      .join(withV.select(col("q_id"), col("vec_id").as("b_id"),
                         col("v").as("bv")), "q_id")
      .filter(col("a_id") =!= col("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"),
        round(Similarity.cosine(col("av"), col("bv")) * 1e6).cast(LongType)
          .as("sim_micro")))
    // driver-side greedy under the guard. BOTH frames are bounded — a
    // degenerate batch (one candidate per query, k=1) has ZERO pairs, so
    // a pairs-only guard would wave a million-row candidate frame through
    // to the driver. The cand probe is the cheaper gate and runs FIRST: an
    // over-bound candidate frame short-circuits straight to the
    // distributed loop without collecting (or materializing) pairs at all
    val probe = for {
      cRows <- Bounded.collect(cand, driverMax)
      pRows <- Bounded.collect(pairs, driverMax)
    } yield (cRows, pRows)
    Bounded.choose("mmr", probe) { case (cRows, pRows) =>
      val spark = emb.sparkSession
      val cs = cRows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val sims = pRows
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
        .toMap
      val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
      cs.groupBy(_._1).foreach { case (q, rows) =>
        var remaining = rows.sortBy(r => (r._2)).toBuffer
        val chosen = scala.collection.mutable.ArrayBuffer.empty[Long]
        for (i <- 1 to math.min(select, rows.length)) {
          val scored = remaining.map { case (_, v, rel) =>
            val msim = if (chosen.isEmpty) 0L
                       else chosen.map(b => sims.getOrElse((q, v, b), 0L)).max
            (v, rel, lambdaPct.toLong * rel - (100L - lambdaPct) * msim)
          }
          val (v, rel, mmr) = scored.minBy { case (v, _, m) => (-m, v) }
          out += ((q, i.toLong, v, rel, mmr))
          chosen += v
          remaining = remaining.filterNot(_._2 == v)
        }
      }
      // explicit schema so BOTH size-dependent paths return identical
      // schemas (incl. nullability): ids follow the candidate frame, the
      // computed score columns are nullable like the distributed path's
      // arithmetic expressions
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "q_id", LongType, cand.schema("q_id").nullable),
        org.apache.spark.sql.types.StructField("sel_rank", LongType, false),
        org.apache.spark.sql.types.StructField(
          "vec_id", LongType, cand.schema("vec_id").nullable),
        org.apache.spark.sql.types.StructField("rel_micro", LongType, true),
        org.apache.spark.sql.types.StructField("mmr_scaled", LongType, true)))
      import scala.jdk.CollectionConverters._
      Some(spark.createDataFrame(
        out.result().map { case (q, i, v, rel, mmr) =>
          org.apache.spark.sql.Row(q, i, v, rel, mmr) }.asJava,
        outSchema))
    } {
      var selected: DataFrame = null
      for (i <- 1 to select) {
        val next = mmrRound(cand, pairs,
                            if (i == 1) None else Some(selected), i, lambdaPct)
        selected = materialize(
          if (i == 1) next else selected.unionByName(next))
      }
      selected
    }
  }

  /** One round of the distributed MMR greedy loop: the pick-i frame given
    * the picks so far (None on the first round). Factored out so the
    * per-round plan is guarded in PlanQualitySpec — the round must stay
    * equi-join + one per-query window over the BOUNDED cand/pairs frames,
    * never a nested-loop join or corpus-shaped exchange.
    */
  private[graft] def mmrRound(cand: DataFrame, pairs: DataFrame,
                              selected: Option[DataFrame], i: Int,
                              lambdaPct: Int): DataFrame = {
    val pick = Window.partitionBy("q_id")
      .orderBy(col("mmr_scaled").desc, col("vec_id"))
    val rem = selected match {
      case None    => cand
      case Some(s) => cand.join(s.select("q_id", "vec_id"),
                                Seq("q_id", "vec_id"), "left_anti")
    }
    val maxSim = selected match {
      case None    => rem.withColumn("msim", lit(0L))
      case Some(s) => rem.join(
          pairs.join(s.select(col("q_id"), col("vec_id").as("b_id")),
                     Seq("q_id", "b_id"))
            .groupBy(col("q_id"), col("a_id").as("vec_id"))
            .agg(max(col("sim_micro")).as("msim")),
          Seq("q_id", "vec_id"), "left")
        .withColumn("msim", coalesce(col("msim"), lit(0L)))
    }
    maxSim
      .withColumn("mmr_scaled",
        lit(lambdaPct.toLong) * col("rel_micro") -
          lit((100 - lambdaPct).toLong) * col("msim"))
      .withColumn("__rn", row_number().over(pick))
      .filter(col("__rn") === 1)
      .select(col("q_id"), lit(i.toLong).as("sel_rank"), col("vec_id"),
              col("rel_micro"), col("mmr_scaled"))
  }
}
