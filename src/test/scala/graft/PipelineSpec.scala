package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.queries.Pipeline

/** Semantics checks for the training-data pipeline operators at sf0.001.
  * Value-level parity with DuckDB is covered by the oracle harness.
  */
class PipelineSpec extends SparkSpecBase {

  private lazy val docs = Tables.load(spark, sfDir, "documents")
  private lazy val emb = Tables.load(spark, sfDir, "embeddings")

  test("oracle keys are a subset of query keys") {
    assert(Pipeline.oracles.keySet.subsetOf(Pipeline.queries.keySet))
  }

  test("all pipeline queries execute and return rows at sf0.001") {
    val counts = Pipeline.queries.map { case (n, fn) => n -> fn(spark, sfDir).count() }
    val empty = counts.filter(_._2 == 0L).keys.toSeq.sorted
    assert(empty.isEmpty, s"queries with zero rows: $empty")
  }

  test("native DotProduct equals the lambda fold bit-for-bit and codegens") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val e = emb.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("v")).limit(100)
    val pairs = e.as("a").crossJoin(e.as("b")).limit(500)
      .select(col("a.v").as("x"), col("b.v").as("y"))
    val lambda = aggregate(zip_with(col("x"), col("y"), (p, q) => p * q),
                           lit(0.0), (acc, v) => acc + v)
    val diff = pairs
      .select(graft.functions.DotProduct.dot(col("x"), col("y")).as("native"),
              lambda.as("folded"))
      .filter(col("native") =!= col("folded")) // bit-exact, not approx
      .count()
    assert(diff == 0, "native dot product diverges from the lambda fold")
    // and the expression participates in whole-stage codegen
    val planned = pairs.select(
      graft.functions.DotProduct.dot(col("x"), col("y")).as("d"))
    planned.collect()
    assert(planned.queryExecution.executedPlan.toString.contains("*("),
           "DotProduct fell out of whole-stage codegen")
  }

  test("bloom membership: no false negatives, zero exchanges on the probe side") {
    import graft.pipeline.Decontam
    val a = docs.filter(col("source") =!= "src0")
    val b = docs.filter(col("source") === "src0")
    val key = md5(substring(col("text"), 1, 30))
    val flagged = Decontam.bloomFlag(a, b, key, mBits = 1024, k = 3)
    // one-sided guarantee: every doc the exact left-anti removes must be
    // flagged possibly_dup (false negatives would silently keep dups)
    val dupIds = a.select("doc_id")
      .except(Decontam.crossCorpusDedup(a, b, key).select("doc_id"))
    val missed = dupIds
      .join(flagged.filter(!col("possibly_dup")), "doc_id").count()
    assert(missed == 0, s"bloom filter missed $missed exact duplicates")
    // the probe is a pure projection: the corpus side never shuffles
    val plan = flagged.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
           "bloom probe side should have zero exchanges")
    // past the literal threshold the bitset ships as a broadcast one-row
    // frame: flags identical, still no shuffle of the corpus side
    val big = Decontam.bloomFlag(a, b, key, mBits = 1 << 21, k = 3)
    val bigPlan = big.queryExecution.executedPlan.toString
    assert(bigPlan.contains("BroadcastExchange") &&
             !bigPlan.contains("ShuffleExchange"),
           "large-m bloom should broadcast the bitset and never shuffle")
    // and the wide filter is collision-free on this corpus: flags == exact
    val bigDups = big.filter(col("possibly_dup")).select("doc_id")
    assert(bigDups.exceptAll(dupIds).count() == 0 &&
             dupIds.exceptAll(bigDups).count() == 0,
           "2^21-bit bloom should flag exactly the true duplicates here")
  }

  test("bloom build side collects word rows, never per-position rows") {
    import graft.pipeline.Decontam
    val b = docs.filter(col("source") === "src0")
    val key = md5(substring(col("text"), 1, 30))
    val mBits = 256 // tiny filter: many keys per word forces the distinction
    val words = Decontam.bloomWords(b, key, mBits, k = 3)
    // the collected frame is word-count bounded — at most mBits/64 rows —
    // while the per-position count here is far larger (3 probes per key)
    val rows = words.collect()
    assert(rows.length <= mBits / 64,
           s"build side produced ${rows.length} rows > ${mBits / 64} words")
    assert(b.count() * 3 > mBits / 64,
           "fixture too small to distinguish word- from position-sizing")
    // the OR-fold is exact: reconstructing the bitset from the word rows
    // reproduces bloomFlag's flags bit-for-bit
    val bits = new Array[Long](mBits / 64)
    rows.foreach(r => bits(r.getInt(0)) = r.getLong(1))
    val a = docs.filter(col("source") =!= "src0")
    val flagged = Decontam.bloomFlag(a, b, key, mBits, k = 3)
    val posOf = (s: Int, keyStr: String) =>
      (graft.pipeline.TextPrep.hash64Jvm(s"$s:$keyStr") % mBits).toInt
    flagged.withColumn("__k", key).select("__k", "possibly_dup").collect()
      .foreach { r =>
        val expected = (0 until 3).forall { i =>
          val p = posOf(i, r.getString(0))
          (bits(p >> 6) >> (p & 63) & 1L) == 1L
        }
        assert(r.getBoolean(1) == expected, "word-built bitset diverged")
      }
  }

  test("int8 quantization: round trip stays within one quantization step") {
    import graft.pipeline.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = Similarity.int8Quantize(e)
    // codes are genuine uint8
    val bad = q.select(explode(col("qvec")).as("q"))
      .filter(col("q") < 0 || col("q") > 255).count()
    assert(bad == 0, s"$bad codes outside [0, 255]")
    // dequantization error is bounded by one step (range/255) plus the
    // micro-unit rounding — the guarantee that makes the 4x cut usable
    val dq = Similarity.int8Dequantize(q)
    val err = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .join(dq.withColumnRenamed("embedding", "v2"), "vec_id")
      .select(col("vec_id"),
        aggregate(zip_with(col("v"), col("v2"), (a, b) => abs(a - b)),
                  lit(0.0), (acc, x) => greatest(acc, x)).as("maxerr"),
        ((array_max(col("v")) - array_min(col("v"))) / 255.0 + 2e-6).as("bound"))
    assert(err.filter(col("maxerr") > col("bound")).count() == 0,
           "dequantization error exceeded one quantization step")
  }

  test("RRF fusion: an id ranked by both systems outranks single-system ids") {
    import graft.pipeline.Retrieval
    import spark.implicits._
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "rank")
    val b = Seq((2L, 1L), (4L, 2L)).toDF("id", "rank")
    val fused = Retrieval.rrfFuse(Seq(a, b), k = 60, topN = 10).collect()
    // id 2: 1e9/62 + 1e9/61 beats id 1's 1e9/61 alone
    assert(fused.head.getLong(0) == 2L, s"fusion order wrong: ${fused.toSeq}")
    assert(fused.head.getLong(2) == 2L, "n_systems miscounted")
    // deterministic integer contributions: recompute one score exactly
    val id2 = fused.find(_.getLong(0) == 2L).get
    assert(id2.getLong(1) == 1000000000L / 62 + 1000000000L / 61)
  }

  test("count-min estimates are never below the exact counts") {
    val ev = TextAnalysis.cmsTopKEvaluate(docs, topK = 20, depth = 4, width = 32)
    assert(ev.filter(col("n_cms") < col("n_total")).count() == 0,
           "CMS produced an estimate below the true count")
    // and at a collision-free width the estimates are exact (14 bits/row
    // keeps depth*log2(width) inside the 60-bit hash budget)
    val wide = TextAnalysis.cmsTopKEvaluate(docs, topK = 20,
                                            depth = 4, width = 1 << 14)
    assert(wide.filter(col("overcount") =!= 0L).count() == 0,
           "collision-free CMS should match exact counts")
  }

  test("chunk windows: tail covered, stride spacing, one chunk for short docs, shuffle-free") {
    import graft.pipeline.{Packing, TextPrep}
    val ch = Packing.chunkWindows(docs, chunkLen = 64, stride = 48)
    val n = docs.select(col("doc_id"),
      size(TextPrep.words(col("text"))).as("n")).filter(col("n") > 0)
    val last = ch.groupBy("doc_id")
      .agg(max(col("tok_start") + col("n_tok")).as("covered"),
           count(lit(1)).as("n_chunks"), max("chunk_idx").as("max_idx"))
      .join(n, "doc_id")
    // every document's final token is inside its last window
    assert(last.filter(col("covered") =!= col("n")).count() == 0)
    // chunk_idx is dense: max_idx + 1 == n_chunks (starts every 48 tokens)
    assert(last.filter(col("max_idx") + 1 =!= col("n_chunks")).count() == 0)
    // a document shorter than chunkLen yields exactly one whole-doc chunk
    assert(last.filter(col("n") <= 64 && col("n_chunks") =!= 1).count() == 0)
    // pure projection + explode: no exchange anywhere in the plan
    val plan = ch.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "chunking should not shuffle")
  }

  test("hyperloglog estimates stay inside the 3-sigma envelope per group") {
    import graft.pipeline.TextPrep
    val sh = docs
      .select(col("source"), TextPrep.words(col("text")).as("ws"))
      .select(col("source"),
              explode(TextPrep.shingles(col("ws"), 5)).as("shingle"))
    val ev = TextAnalysis.hllCardinality(sh, col("shingle"), "source", m = 64)
    // theoretical sigma = 1.04/sqrt(64) ~ 13 %; the deterministic hash makes
    // this exact on fixed data, but 3 sigma is the design envelope
    val out = ev.filter(abs(col("err_pct")) > 39.0).count()
    assert(out == 0, s"$out groups outside the 3-sigma HLL envelope")
    // the estimate column exists for every group with a non-null value
    assert(ev.filter(col("n_hll").isNull).count() == 0)
  }

  test("minhash LSH candidates contain every exact-high-Jaccard pair") {
    // LSH with 4 bands of 4 rows has near-certain recall at jaccard >= 0.9
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.9, "source")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashLshCandidates(docs, 3, 16, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(cand), s"LSH missed pairs: ${exact.diff(cand)}")
  }

  test("identical docs get identical simhash; near-dup pairs are symmetric-free") {
    val pairs = Dedup.simhashPairs(docs, 3).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("random projection: dOut coords, deterministic, ANN-compatible schema") {
    val p1 = Similarity.randomProjection(emb, dOut = 16)
    val p2 = Similarity.randomProjection(emb, dOut = 16)
    assert(p1.filter(size(col("embedding")) =!= 16).count() == 0)
    // literal sign matrix + rounded fold => bit-identical across calls
    assert(p1.exceptAll(p2).count() == 0 && p2.exceptAll(p1).count() == 0)
    // output schema feeds the ANN operators unchanged
    val tk = Similarity.bruteForceTopK(p1, p1.filter(col("vec_id") < 2), k = 5)
    assert(tk.groupBy("q_id").count().filter(col("count") =!= 5).count() == 0)
  }

  test("brute-force top-k: every query gets exactly k ranked neighbors") {
    val res = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
      .groupBy("q_id").count().collect()
    assert(res.length == 5 && res.forall(_.getLong(1) == 10))
  }

  test("hard negatives: cross-label top-k equals brute force on the " +
       "label-excluded corpus") {
    val anchors = emb.filter(col("vec_id") < 5)
    val hn = Similarity.hardNegatives(emb, anchors, k = 10).collect()
    // every row's label differs from its anchor's
    val anchorLabel = anchors.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(hn.forall(r => r.getAs[Long]("label") != anchorLabel(r.getAs[Long]("q_id"))))
    // ranks are 1..k per anchor with non-increasing scores
    hn.groupBy(_.getAs[Long]("q_id")).values.foreach { rs =>
      val byRank = rs.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq == (1L to 10L))
      val scores = byRank.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    // semantic equivalence: for one anchor, hardNegatives = bruteForceTopK
    // over the corpus with the anchor's label removed
    val a0 = anchors.filter(col("vec_id") === 0L)
    val l0 = anchorLabel(0L)
    val expect = Similarity.bruteForceTopK(
        emb.filter(col("label") =!= l0), a0, k = 10)
      .orderBy("rank").collect().map(_.getAs[Long]("vec_id")).toSeq
    val got = hn.filter(_.getAs[Long]("q_id") == 0L)
      .sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("vec_id")).toSeq
    assert(got == expect)
  }

  test("centroid drift: exact means on a hand fixture; pair frame shape") {
    // two tight groups: centroid of identical vectors IS the vector, so
    // the pair cosine is the vector cosine exactly
    val fix = spark.createDataFrame(Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(0.0f, 2.0f), 1), (4L, Seq(0.0f, 2.0f), 1),
      (5L, Seq(1.0f, 1.0f), 2)
    )).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidDrift(fix).orderBy("grp_a", "grp_b").collect()
    assert(out.length == 3) // C(3,2) unordered pairs, grp_a < grp_b
    val m = out.map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(m((0L, 1L)) == ((2L, 2L, 0.0)))        // orthogonal centroids
    assert(m((0L, 2L))._3 == 0.707107)            // cos 45° rounded to 6dp
    assert(m((1L, 2L))._3 == 0.707107)
    // real corpus: every unordered label pair exactly once
    val labels = emb.select("label").distinct().count()
    assert(Similarity.centroidDrift(emb).count() == labels * (labels - 1) / 2)
  }

  test("ppl buckets: NTILE partitions each language into near-equal, " +
       "boundary-monotone tiles") {
    import graft.pipeline.LanguageModel
    val out = LanguageModel.pplBuckets(docs, docs.filter(col("doc_id") % 10 === 0))
      .orderBy("lang", "bucket").collect()
    val perLang = out.groupBy(_.getAs[String]("lang"))
    // documents table: every doc has >= 2 tokens, so bucketed counts per
    // language sum to the language's doc count
    val langCounts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, rows) =>
      assert(rows.map(_.getAs[Long]("bucket")).toSeq.sorted == Seq(1L, 2L, 3L))
      assert(rows.map(_.getAs[Long]("n_docs")).sum == langCounts(lang))
      // NTILE: tile sizes differ by at most one
      val ns = rows.map(_.getAs[Long]("n_docs"))
      assert(ns.max - ns.min <= 1)
      // bucket boundaries are monotone in cross-entropy
      val byB = rows.sortBy(_.getAs[Long]("bucket"))
      byB.zip(byB.tail).foreach { case (lo, hi) =>
        assert(lo.getAs[Double]("max_ce") <= hi.getAs[Double]("min_ce"))
      }
    }
  }

  test("ppl buckets: distributed rank is bit-identical to an NTILE window, " +
       "including ties straddling bucket boundaries") {
    import graft.pipeline.LanguageModel
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    // tie-heavy fixture: repeated texts give IDENTICAL rounded CE, with
    // tie-group sizes (5,3,2) chosen so tertile cuts land INSIDE groups;
    // "fr" exercises the n < buckets degenerate (one row per tile)
    val rows = (0L until 5L).map(i => (i, "en", "alpha beta gamma delta")) ++
      (5L until 8L).map(i => (i, "en", "epsilon zeta eta")) ++
      (8L until 10L).map(i => (i, "en", "theta iota")) ++
      Seq((10L, "fr", "kappa lambda mu"), (11L, "fr", "nu xi"))
    val fix = spark.createDataFrame(rows).toDF("doc_id", "lang", "text")
    val ref = fix.filter(col("doc_id") % 2 === 0)
    val got = LanguageModel.pplBuckets(fix, ref)
      .orderBy("lang", "bucket").collect().map(_.toSeq).toSeq
    // reference: the naive single-window NTILE formulation this
    // implementation replaced — must agree bit-for-bit
    val ce = LanguageModel.crossEntropy(fix, ref)
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cross_entropy"), col("doc_id"))
    val want = fix.select("doc_id", "lang").join(ce, "doc_id")
      .withColumn("bucket", ntile(3).over(w).cast(LongType))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), min(col("cross_entropy")).as("min_ce"),
           max(col("cross_entropy")).as("max_ce"),
           sum(col("doc_id")).as("id_sum"))
      .orderBy("lang", "bucket").collect().map(_.toSeq).toSeq
    assert(got == want)
    // the straddle path actually fired: tie groups sized (5,3,2) — or any
    // CE-collision merge of them — have cumulative boundaries {5,8}/{5}/{8},
    // never NTILE's cut ranks {4,7}, so a tertile cut always lands INSIDE
    // a tie group; what must hold is that ties exist at all
    val enCe = ce.join(fix.filter(col("lang") === "en"), "doc_id")
      .select("cross_entropy").distinct().count()
    assert(enCe >= 1 && enCe <= 3, "fixture lost its tie groups")
  }

  test("group centroids: mixed embedding dimensions in one group raise " +
       "loudly on the batch face (streaming face already requires)") {
    val bad = spark.createDataFrame(Seq(
      (1L, Seq(1.0f, 2.0f), 0), (2L, Seq(1.0f, 2.0f, 3.0f), 0)
    )).toDF("vec_id", "embedding", "label")
    val e = intercept[Exception] {
      Similarity.groupCentroids(bad).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("inconsistent embedding dimensions")),
           s"wrong error: ${msgs(e).mkString(" | ")}")
    // consistent dims still pass through the guard untouched
    val ok = spark.createDataFrame(Seq(
      (1L, Seq(1.0f, 3.0f), 0), (2L, Seq(3.0f, 5.0f), 0)
    )).toDF("vec_id", "embedding", "label")
    val gv = Similarity.groupCentroids(ok).collect()(0).getSeq[Double](2)
    assert(gv == Seq(2.0, 4.0))
  }

  test("multi-index hamming: pigeonhole-complete within distance < bands; " +
       "misaligned band count raises") {
    // 64-dim fixture with CONTROLLED sign distances from anchor 0:
    // flipping d dims flips exactly d sign bits
    def vec(flips: Set[Int]): Seq[Float] =
      (0 until 64).map(i => if (flips(i)) -1.0f else 1.0f)
    val rows = Seq(
      (0L, vec(Set.empty)),            // anchor
      (1L, vec(Set(3))),               // hamming 1
      (2L, vec(Set(5, 9))),            // hamming 2
      (3L, vec(Set(1, 2, 40))),        // hamming 3
      (4L, vec((0 until 30).toSet)),   // hamming 30 (prunable)
      (5L, vec((10 until 45).toSet)))  // hamming 35 (prunable)
    val fix = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val anchor = fix.filter(col("vec_id") === 0L)
    // all 3 true neighbors sit within hamming < 8 = bands, so the band
    // filter is COMPLETE: indexed top-3 == brute top-3, bit for bit
    val brute = Similarity.hammingTopK(fix, anchor, k = 3)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    val idx = Similarity.hammingTopKIndexed(fix, anchor, k = 3, bands = 8)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    assert(idx == brute)
    assert(idx.map(_(2)) == Seq(1L, 2L, 3L))
    // real corpus: indexed results are always a subset of the brute
    // ranking's candidate semantics — same distance, never a wrong one
    val bruteAll = Similarity.hammingTopK(emb, emb.filter(col("vec_id") < 3), 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    Similarity.hammingTopKIndexed(emb, emb.filter(col("vec_id") < 3), 10)
      .collect().foreach { r =>
        val key = (r.getLong(0), r.getLong(2))
        // every indexed hit the brute top-10 also ranked must agree on
        // the exact distance
        bruteAll.get(key).foreach(d => assert(d == r.getLong(3)))
      }
    // 5 bands cannot tile a 64-bit signature of 32-bit words
    val e = intercept[Exception] {
      Similarity.hammingTopKIndexed(emb, emb.filter(col("vec_id") < 1),
                                    k = 3, bands = 5).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("do not align")),
           s"wrong error: ${msgs(e).mkString(" | ")}")
  }

  test("ivf hard negatives: cross-label, probed-list-restricted, and " +
       "exactly the full-scan miner on probed candidates") {
    val anchors = emb.filter(col("vec_id") < 5)
    val cent = Similarity.ivfCentroids(emb, 8)
    val assign = Similarity.ivfAssign(emb, cent)
    val hn = Similarity.hardNegativesIvf(emb, anchors, k = 10, nlist = 8,
                                         nProbe = 2,
                                         centroids = Some(cent),
                                         assigned = Some(assign)).collect()
    val anchorLabel = anchors.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(hn.nonEmpty)
    assert(hn.forall(r =>
      r.getAs[Long]("label") != anchorLabel(r.getAs[Long]("q_id"))))
    // semantic equivalence: for anchor 0, the IVF miner == the full-scan
    // miner run over ONLY the vectors in anchor 0's two probed lists,
    // computed INDEPENDENTLY here (cosine to centroids, top-2 by sim
    // desc / cid asc, then the assignment lists)
    val a0 = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>")).collect()(0)
      .getSeq[Double](0)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val r = d / (math.sqrt(a.map(x => x * x).sum) *
                   math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val probedCids = cent.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .map { case (cid, cv) => (cid, cos(a0, cv)) }
      .sortBy { case (cid, sim) => (-sim, cid) }.take(2).map(_._1).toSet
    val lists = assign.collect()
      .filter(r => probedCids(r.getLong(1))).map(_.getLong(0)).toSet
    val restricted = emb.filter(col("vec_id").isin(lists.toSeq: _*) ||
                                col("vec_id") === 0L)
    val expect = Similarity.hardNegatives(restricted,
        restricted.filter(col("vec_id") === 0L), k = 10)
      .orderBy("rank").collect().map(_.getAs[Long]("vec_id")).toSeq
    val got = hn.filter(_.getAs[Long]("q_id") == 0L)
      .sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("vec_id")).toSeq
    assert(got == expect)
  }

  test("binary signatures pack sign bits exactly; hamming = bit-diff count") {
    // bits (strict v > 0): vec 0 -> 1,0,1,0 = word 5; vec 1 -> 0,1,1,1 = 14
    val fix = spark.createDataFrame(Seq(
      (0L, Seq(1.0f, -1.0f, 0.5f, 0.0f)),
      (1L, Seq(-1.0f, 1.0f, 0.5f, 2.0f))
    )).toDF("vec_id", "embedding")
    val sig = Similarity.binaryQuantize(fix).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(0L) == Seq(5L) && sig(1L) == Seq(14L))
    // hamming(5, 14) = popcount(0b1011) = 3
    val hk = Similarity.hammingTopK(fix, fix.filter(col("vec_id") === 0L),
                                    k = 1).collect()(0)
    assert(hk.getAs[Long]("hamming") == 3L)
    // 64-dim corpus: two 32-bit words, every anchor gets k ranked rows
    // with non-decreasing distances
    val hn = Similarity.hammingTopK(emb, emb.filter(col("vec_id") < 3), k = 5)
      .collect()
    assert(Similarity.binaryQuantize(emb).select("sig").head()
      .getSeq[Long](0).length == 2)
    hn.groupBy(_.getAs[Long]("q_id")).values.foreach { rs =>
      val byRank = rs.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq == (1L to 5L))
      val ds = byRank.map(_.getAs[Long]("hamming"))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
    }
  }

  test("matryoshka truncation: prefix slice; full prefix is recall 1.0") {
    val t = Similarity.matryoshkaTruncate(emb, dOut = 16)
    assert(t.filter(size(col("embedding")) =!= 16).count() == 0)
    // the 64-of-64 prefix ranking IS the exact ranking
    val full = Similarity.matryoshkaTruncate(emb, dOut = 64)
    val r = Similarity.recallAtK(
        Similarity.bruteForceTopK(full, full.filter(col("vec_id") < 3), 10),
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 10))
      .collect()
    assert(r.length == 3 && r.forall(_.getAs[Double]("recall") == 1.0))
  }

  test("lsh bucket expression is bit-identical to the higher-order fold") {
    // the codegen'd LshBucket (cached plane table, primitive loop) vs the
    // aggregate/zip_with reference it replaced — same buckets on real
    // embeddings and on the null/empty edges (null array, null element,
    // empty array all fold to bucket 0)
    import org.apache.spark.sql.types._
    val real = emb.select(
      col("vec_id"),
      Similarity.lshBucketCol(
        col("embedding").cast(ArrayType(DoubleType)), 8).as("a"),
      Similarity.lshBucketColFold(
        col("embedding").cast(ArrayType(DoubleType)), 8).as("b"))
    assert(real.filter(col("a") =!= col("b")).count() == 0)
    val edges = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, Seq(0.5, -0.25, 3.0)),
        org.apache.spark.sql.Row(2L, null),
        org.apache.spark.sql.Row(3L, Seq[Any](0.5, null, 1.0)),
        org.apache.spark.sql.Row(4L, Seq.empty[Double]))),
      StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("v", ArrayType(DoubleType, containsNull = true)))))
    val got = edges.select(col("vec_id"),
        Similarity.lshBucketCol(col("v"), 8).as("a"),
        Similarity.lshBucketColFold(col("v"), 8).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (id, a, b) => assert(a == b, s"vec $id: $a != $b") }
    // null / null-element / empty all collapse to bucket 0
    assert(got.filter(_._1 >= 2L).forall(_._2 == 0L))
  }

  test("lsh top-k scores are a subset of brute-force candidate scores") {
    val bf = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 1000)
      .select("q_id", "vec_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), 8, 10).collect()
    // every LSH hit must carry the same score brute force computed for it
    assert(lsh.forall(r => bf((r.getLong(0), r.getLong(2))) == r.getDouble(3)))
  }

  test("k-means IVF: deterministic training, full recall inside probed lists") {
    val cent1 = Similarity.kmeansCentroids(emb, k = 4, iters = 2)
    val cent2 = Similarity.kmeansCentroids(emb, k = 4, iters = 2)
    // deterministic: same seeds, same assignment tiebreak, same means
    assert(cent1.except(cent2).isEmpty && cent2.except(cent1).isEmpty)
    // trained centroids plug into ivfTopK; every query gets k ranked hits
    val q = emb.filter(col("vec_id") < 3)
    val hits = Similarity.ivfTopK(emb, q, nlist = 4, nProbe = 2, k = 5,
                                  centroids = Some(cent1))
    val perQ = hits.groupBy("q_id").count().collect().map(_.getLong(1))
    assert(perQ.length == 3 && perQ.forall(_ == 5))
    // IVF scores agree with brute force on the pairs it returns
    val bf = Similarity.bruteForceTopK(emb, q, k = 1000)
      .select(col("q_id").as("bq"), col("vec_id").as("bv"), col("score").as("bscore"))
    val joined = hits.join(bf, col("q_id") === col("bq") && col("vec_id") === col("bv"))
    assert(joined.filter(col("score") =!= col("bscore")).isEmpty)
  }

  test("langId votes and fingerprint are deterministic across runs") {
    val a = TextAnalysis.langId(docs).orderBy("doc_id").collect().toSeq
    val b = TextAnalysis.langId(docs).orderBy("doc_id").collect().toSeq
    assert(a == b)
    val f1 = TextAnalysis.fingerprint(docs).orderBy("doc_id").collect().toSeq
    val f2 = TextAnalysis.fingerprint(docs).orderBy("doc_id").collect().toSeq
    assert(f1 == f2)
  }

  test("multimodal features: 4 deterministic features per doc, n_bytes is the WAV size") {
    val feat = Multimodal.extractFeatures(spark, docs)
    assert(feat.count() == docs.count())
    val r = feat.orderBy("doc_id").first()
    assert(r.getAs[scala.collection.Seq[Double]]("features").length == 4)
    // n_bytes = real container size: 44-byte canonical PCM header + 2/sample
    val meta = Multimodal.blobMeta(docs).orderBy("doc_id").first()
    assert(r.getLong(1) == 44L + 2L * meta.getLong(1))
  }

  test("WAV codec: synthesis round-trips through the real chunk-walking parser") {
    val payload = Array[Byte](0, 1, 2, -1, 127, -128)
    val wav = Multimodal.wavFromBytes(payload)
    // the container IS a valid canonical WAV
    assert(new String(wav, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(wav, 8, 4, "US-ASCII") == "WAVE")
    assert(wav.length == 44 + 2 * payload.length)
    val samples = Multimodal.decodeWav(wav).get
    assert(samples.toSeq == payload.toSeq.map(b => (b & 0xff) * 257 - 32768))

    // parser walks chunks: an inserted LIST chunk between fmt and data
    // must not break decoding (fixed-offset "parsers" fail this)
    val pre = wav.take(36) // RIFF..fmt chunk end
    val list = "LIST".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
    val shifted = java.nio.ByteBuffer
      .allocate(wav.length + list.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(pre).put(list).put(wav.drop(36)).array()
    // fix the RIFF size field for the inserted chunk
    java.nio.ByteBuffer.wrap(shifted).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, shifted.length - 8)
    assert(Multimodal.decodeWav(shifted).get.toSeq == samples.toSeq)

    // malformed containers are rejected, not misread
    assert(Multimodal.decodeWav("JUNKJUNKJUNKJUNK".getBytes).isEmpty)
    assert(Multimodal.decodeWav(wav.take(20)).isEmpty)
    val eightBit = wav.clone()
    java.nio.ByteBuffer.wrap(eightBit).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(34, 8) // bits-per-sample field
    assert(Multimodal.decodeWav(eightBit).isEmpty)

    // per-quarter RMS, hand-checked: samples (3,4) -> meanSq (9+16)//2 = 12
    // (integer division), sqrt = 3.4641016..., floored to 6 decimals
    assert(Multimodal.quarterRms(Array(3, 4, 3, 4, 3, 4, 3, 4)).toSeq ==
           Seq(3.464101, 3.464101, 3.464101, 3.464101))
    assert(Multimodal.quarterRms(Array.empty[Int]).toSeq == Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("PNG codec: round-trip, defiltering of Sub/Up/Average/Paeth, rejection") {
    // round-trip: pixels come back exactly, padded to the 16-wide raster
    val payload = (0 until 40).map(i => ((i * 7) % 256).toByte).toArray
    val png = Multimodal.pngFromBytes(payload)
    val (w, h, px) = Multimodal.decodePng(png).get
    assert(w == 16 && h == 3 && px.length == 48)
    assert(px.take(40).toSeq == payload.toSeq.map(_ & 0xff))
    assert(px.drop(40).forall(_ == 0))

    // hand-built 2x4 image using every non-zero filter type:
    //   row0 Sub:     raw (5, 250)  -> px (5, 255)
    //   row1 Up:      raw (10, 1)   -> px (15, 0)
    //   row2 Average: raw (10, 10)  -> px (17, 18)   (floor((a+b)/2) + raw)
    //   row3 Paeth:   raw (1, 2)    -> px (18, 20)
    val raw = Array[Byte](
      1, 5, 250.toByte,
      2, 10, 1,
      3, 10, 10,
      4, 1, 2)
    val filtered = Multimodal.assemblePng(2, 4, raw)
    val (_, _, fp) = Multimodal.decodePng(filtered).get
    assert(fp.toSeq == Seq(5, 255, 15, 0, 17, 18, 18, 20),
           s"defiltering wrong: ${fp.toSeq}")

    // malformed containers are rejected, not misread
    assert(Multimodal.decodePng("NOTAPNGNOTAPNG!!".getBytes).isEmpty)
    assert(Multimodal.decodePng(png.take(30)).isEmpty)
    val rgb = png.clone(); rgb(25 + 0) = 2 // color type field -> RGB
    assert(Multimodal.decodePng(rgb).isEmpty)
  }

  test("sampling: split partitions exactly, stratified bounds per stratum, " +
       "weighted/split plans are shuffle-free") {
    import graft.pipeline.Sampling

    // split: every doc labeled exactly once, deterministic across runs
    val sp = Sampling.split(docs, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(sp.count() == docs.count())
    val byLabel = sp.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.keySet.subsetOf(Set("train", "val", "test")))
    assert(byLabel.values.sum == docs.count())
    assert(byLabel("train") > byLabel.getOrElse("val", 0L))
    val sp2 = Sampling.split(docs, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(sp.orderBy("doc_id").collect().toSeq == sp2.orderBy("doc_id").collect().toSeq)

    // stratified: at most k rows per stratum; subset of the corpus
    val st = Sampling.stratifiedTopK(docs, "lang", k = 3)
    val perLang = st.groupBy("lang").count().collect().map(_.getLong(1))
    assert(perLang.nonEmpty && perLang.forall(_ <= 3))

    // weighted: rate 1.0 keeps everything, 0.0 keeps nothing
    val all = Sampling.weightedSample(docs, Map.empty, defaultRate = 1.0)
    assert(all.count() == docs.count())
    val none = Sampling.weightedSample(docs, Map.empty, defaultRate = 0.0)
    assert(none.count() == 0L)

    // scale shape: the pure-projection operators never shuffle
    for (df <- Seq(sp, all))
      assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
        "weightedSample/split must be shuffle-free column pipelines")
  }

  test("decontamination drops exactly the overlapping docs and broadcasts the bench set") {
    import graft.pipeline.Decontam
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val over = Decontam.ngramOverlap(train, bench, n = 5)
    val contaminated = over.filter(col("n_hit") > 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val clean = Decontam.decontaminate(train, bench, n = 5)
    val cleanIds = clean.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cleanIds.intersect(contaminated).isEmpty)
    // every train doc is either clean or contaminated (short docs are clean)
    val trainIds = train.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cleanIds ++ contaminated == trainIds)
    // a benchmark doc used as its own train input is fully contaminated
    val self = Decontam.ngramOverlap(bench, bench, n = 5)
    assert(self.filter(col("hit_frac") =!= 1.0).count() == 0)
    // tolerance: maxHitFrac = 1.0 keeps everything
    assert(Decontam.decontaminate(train, bench, 5, maxHitFrac = 1.0).count() ==
      train.count())
    // scale shape: the bench n-gram set joins broadcast — the train side
    // is never shuffled for the overlap probe
    assert(clean.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "decontaminate must broadcast the benchmark n-gram set")
  }

  test("cross-corpus dedup removes a-side rows whose key exists in b") {
    import graft.pipeline.Decontam
    val a = docs.filter(col("source") =!= "src0")
    val b = docs.filter(col("source") === "src0")
    val key = md5(substring(col("text"), 1, 30))
    val kept = Decontam.crossCorpusDedup(a, b, key)
    val bKeys = b.select(key.as("k")).distinct().collect().map(_.getString(0)).toSet
    val keptKeys = kept.select(key.as("k")).collect().map(_.getString(0)).toSet
    assert(keptKeys.intersect(bKeys).isEmpty)
    // self-dedup removes everything; empty b removes nothing
    assert(Decontam.crossCorpusDedup(a, a, key).count() == 0)
    assert(Decontam.crossCorpusDedup(a, b.limit(0), key).count() == a.count())
    assert(kept.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "crossCorpusDedup must broadcast b's key set")
  }

  test("PII redaction replaces every pattern kind and stays shuffle-free") {
    import graft.pipeline.Redact
    val sample = spark.createDataFrame(Seq(
      (1L, "mail alice.smith+x@sub.example.org then ip 192.168.1.17 ssn 123-45-6789 tel +14155550123 end"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.co c@d.io and bare dots 1.2.3 not an ip")
    )).toDF("doc_id", "text")
    val out = Redact.piiStats(sample).orderBy("doc_id").collect()
    val r1 = out(0)
    assert(Seq("n_email", "n_ssn", "n_ipv4", "n_phone").map(r1.getAs[Long]) ==
      Seq(1L, 1L, 1L, 1L))
    val red1 = sample.filter(col("doc_id") === 1)
      .select(Redact.redact(col("text"))).head.getString(0)
    assert(red1 == "mail <EMAIL> then ip <IP> ssn <SSN> tel <PHONE> end")
    assert(out(1).getAs[Long]("n_pii") == 0L)
    val r3 = out(2)
    // 1.2.3 is not an IPv4; two emails both redacted
    assert(r3.getAs[Long]("n_email") == 2L && r3.getAs[Long]("n_ipv4") == 0L)
    val plan = Redact.piiStats(sample).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "piiStats must be a pure column pipeline")
  }

  test("token-budget sampling: kept set per group respects the budget and hash order") {
    val sampled = Sampling.tokenBudgetSample(docs, budgetPerGroup = 300L)
    val toks = size(graft.pipeline.TextPrep.words(col("text"))).cast("long")
    val perSrc = sampled.groupBy("source").agg(sum(toks).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSrc.values.forall(_ <= 300L), s"budget exceeded: $perSrc")
    // deterministic across invocations
    val again = Sampling.tokenBudgetSample(docs, budgetPerGroup = 300L)
    assert(sampled.select("doc_id").orderBy("doc_id").collect().toSeq ==
           again.select("doc_id").orderBy("doc_id").collect().toSeq)
    // greedy-prefix property: adding any dropped doc of the same source
    // that precedes the cut in hash order would exceed the budget — spot
    // check: a larger budget keeps a superset
    val bigger = Sampling.tokenBudgetSample(docs, budgetPerGroup = 600L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val smaller = sampled.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(smaller.subsetOf(bigger))
  }

  test("training prep composes dedup, decontam, quality, and budget coherently") {
    import graft.pipeline.TrainingPrep
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val out = TrainingPrep.prepare(docs, bench, budgetPerGroup = 500L).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Long]("n_tokens") <= 500L))
    // impossible quality bar empties the corpus
    assert(TrainingPrep.prepare(docs, bench, minQuality = 1.1).count() == 0)
    // an empty bench set removes nothing by decontamination: totals can
    // only grow relative to the bench-filtered run
    val noBench = TrainingPrep.prepare(docs, bench.limit(0), budgetPerGroup = 500L)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_docs")).toMap
    val withBench = out.map(r => r.getString(0) -> r.getAs[Long]("n_docs")).toMap
    assert(withBench.keySet.subsetOf(noBench.keySet))
  }

  test("pipeline ops survive null and empty documents") {
    import graft.pipeline.{Decontam, Redact, Sampling}
    val messy = spark.createDataFrame(Seq(
      (1L, "hello world foo bar baz", "en", "s1", 23L),
      (2L, null.asInstanceOf[String], "en", "s1", 0L),
      (3L, "", "en", "s1", 0L)
    )).toDF("doc_id", "text", "lang", "source", "n_chars")
    // tokenStats used to throw DIVIDE_BY_ZERO (ANSI) on empty token arrays
    val ts = TextAnalysis.tokenStats(messy).orderBy("doc_id").collect()
    assert(ts.length == 3)
    assert(ts(0).getAs[Long]("n_tokens") == 5L)
    assert(ts(2).getAs[Long]("n_tokens") == 0L && ts(2).isNullAt(ts(2).fieldIndex("ttr")))
    // the rest of the op surface at least evaluates
    TextAnalysis.qualityScore(messy).collect()
    TextAnalysis.fingerprint(messy).collect()
    TextAnalysis.repetitionStats(messy).collect()
    TextAnalysis.vocabulary(messy, 5).collect()
    Redact.piiStats(messy).collect()
    Sampling.tokenBudgetSample(messy, 10L).collect()
    // a null/empty doc has no n-grams: never contaminated, always kept
    val kept = Decontam.decontaminate(messy, messy.limit(1), n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  test("unigram divergence: KL non-negative, entropy bounded by ln(types)") {
    val out = TextAnalysis.unigramDivergence(docs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      // Gibbs: KL(P_g ‖ P) >= 0 (smoothing only raises cross-entropy)
      assert(r.getAs[Double]("kl") >= -1e-6, s"negative KL: $r")
      // uniform bound: H(P_g) <= ln(n_types)
      assert(r.getAs[Double]("entropy") <=
             math.log(r.getAs[Long]("n_types").toDouble) + 1e-6)
    }
    // one-group corpus diverges from itself only by the smoothing mass
    val solo = TextAnalysis.unigramDivergence(
      docs.withColumn("source", lit("all"))).collect()
    assert(solo.length == 1 && solo(0).getAs[Double]("kl") >= 0.0 &&
           solo(0).getAs[Double]("kl") < 0.5)
  }

  test("quantile sketch: estimate within half a bin of the exact value") {
    val out = TextAnalysis.quantileSketch(docs, col("n_chars"), "source",
        bins = 32, lo = 0L, hi = 1023L, ps = Seq(50, 90, 99))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      // the selected bin CONTAINS the rank-target value, so the midpoint
      // estimate is within half the bin width (1024/32 = 32 → |err| <= 16)
      assert(math.abs(r.getAs[Long]("err")) <= 16L,
             s"sketch error out of bound: $r")
      // and the estimate is the midpoint of a valid bin
      assert((r.getAs[Long]("est_q") - 16L) % 32L == 0L)
    }
    // estimates are monotone in p within each group (cumulative selection)
    out.groupBy(_.getAs[String]("source")).values.foreach { rs =>
      val byP = rs.sortBy(_.getAs[Long]("p")).map(_.getAs[Long]("est_q"))
      assert(byP.zip(byP.tail).forall { case (a, b) => a <= b })
    }
  }

  test("mmr diversification trades relevance against redundancy") {
    import graft.pipeline.Retrieval
    // vec 0 = query; 1 and 2 are EXACT near-dups (same direction, cosine
    // 1.0) both highly relevant; 3 is 60° away, moderately relevant
    val fix = spark.createDataFrame(Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.01)), (2L, Seq(2.0, 0.02)),
      (3L, Seq(0.5, 0.866))
    )).toDF("vec_id", "embedding")
    val cands = Similarity.bruteForceTopK(fix, fix.filter(col("vec_id") === 0L),
                                          k = 3)
    // λ=100% is pure relevance: same order as the ANN ranking
    val pure = Retrieval.mmrDiversify(fix, cands, select = 3, lambdaPct = 100)
      .orderBy("sel_rank").collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(pure == cands.orderBy("rank").collect()
      .map(_.getAs[Long]("vec_id")).toSeq)
    // λ=20%: after picking one of the dup pair, its exact copy is maximally
    // redundant — the diverse-but-less-relevant vector 3 goes second
    val div = Retrieval.mmrDiversify(fix, cands, select = 3, lambdaPct = 20)
      .orderBy("sel_rank").collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(div.take(2) == Seq(1L, 3L), s"got $div")
    // every pick is distinct and ranks are 1..select
    assert(div.distinct.size == 3)
    val ranks = Retrieval.mmrDiversify(fix, cands, select = 3, lambdaPct = 50)
      .select("sel_rank").collect().map(_.getLong(0)).sorted.toSeq
    assert(ranks == Seq(1L, 2L, 3L))
    // the driver-side fast path (size-guarded) and the distributed loop
    // are the same integer arithmetic: picks must be bit-identical
    def rows(driverMax: Int, path: String) = {
      val out = Retrieval.mmrDiversify(fix, cands, select = 3, lambdaPct = 20,
                                       driverMax = driverMax)
      assert(graft.util.Bounded.strategy("mmr") == path)
      out.orderBy("q_id", "sel_rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                   r.getLong(3), r.getLong(4))).toSeq
    }
    assert(rows(driverMax = 100000, "local") == rows(driverMax = 0, "distributed"))
  }

  test("mmr guard bounds the candidate frame, not just pairs; int ids work") {
    import graft.pipeline.Retrieval
    // k=1 per query: ZERO pairs, so a pairs-only guard would wave any
    // candidate frame through to a driver collect — the guard must size
    // cand too and route an over-bound batch to the distributed loop
    val emb = spark.createDataFrame(
      (0 until 40).map(i => (i.toLong, Seq(1.0, i.toDouble)))
    ).toDF("vec_id", "embedding")
    val soloCands = spark.createDataFrame(
      (0 until 40).map(i => (i.toLong, i.toLong, 0.5))
    ).toDF("q_id", "vec_id", "score")
    // driverMax below the 40-row candidate frame: the distributed loop
    // must produce the same single pick per query the fast path would
    def picks(driverMax: Int, path: String) = {
      val out = Retrieval.mmrDiversify(emb, soloCands, select = 1,
                                       lambdaPct = 50, driverMax = driverMax)
      assert(graft.util.Bounded.strategy("mmr") == path)
      out.orderBy("q_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val viaDistributed = picks(driverMax = 10, "distributed")
    val viaDriver = picks(driverMax = 100000, "local")
    assert(viaDistributed == viaDriver)
    assert(viaDriver.length == 40 && viaDriver.forall(_._2 == 1L))
    // an IntegerType candidate frame must not ClassCastException on the
    // fast path: ids are cast to long up front, so both size-dependent
    // paths accept and emit the same (all-long) schema
    val intCands = spark.createDataFrame(
      Seq((0, 1, 0.9), (0, 2, 0.8), (0, 3, 0.7))
    ).toDF("q_id", "vec_id", "score")
    val intEmb = spark.createDataFrame(
      Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.01)), (3L, Seq(0.5, 0.866)))
    ).toDF("vec_id", "embedding")
    def ranked(driverMax: Int, path: String) = {
      val out = Retrieval.mmrDiversify(intEmb, intCands, select = 2,
                                       lambdaPct = 20, driverMax = driverMax)
      assert(graft.util.Bounded.strategy("mmr") == path)
      out
    }
    val fast = ranked(100000, "local")
    val dist = ranked(0, "distributed")
    assert(fast.schema == dist.schema)
    assert(fast.orderBy("sel_rank").collect().map(_.getLong(2)).toSeq ==
           dist.orderBy("sel_rank").collect().map(_.getLong(2)).toSeq)
  }

  test("group-disjoint split: every source lands in exactly one split; " +
       "doc-level split does not") {
    val fr = Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2)
    val out = Sampling.splitByGroup(docs, fr)
    val perSource = out.groupBy("source")
      .agg(countDistinct(col("split")).as("k")).collect()
    assert(perSource.nonEmpty && perSource.forall(_.getLong(1) == 1L))
    // pure function of the group key: bit-identical across runs
    assert(out.exceptAll(Sampling.splitByGroup(docs, fr)).isEmpty)
    // the contrast that motivates the operator: the doc-hash split
    // scatters a source's documents across splits (the eval leak)
    val scattered = Sampling.split(docs, fr).groupBy("source")
      .agg(countDistinct(col("split")).as("k")).filter(col("k") > 1).count()
    assert(scattered > 0)
  }

  test("temperature allocations: all-empty corpus leaves the budget unspent") {
    // Σ weights = 0 is the ONE case the exact-budget invariant yields to:
    // there is no token to allocate, so every allocation is 0 by contract
    // (documented in the scaladoc) rather than apportioned over nothing
    val empty = spark.createDataFrame(
      Seq((1L, "", "en", "s1", 0L), (2L, "  ", "de", "s1", 2L))
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Sampling.temperatureAllocations(empty, totalBudget = 40000L)
      .orderBy("lang").collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[Long]("alloc") == 0L))
    assert(out.forall(_.getAs[Long]("weight") == 0L))
  }

  test("temperature allocations apportion the budget exactly by sqrt weights") {
    val out = Sampling.temperatureAllocations(docs, totalBudget = 40000L)
      .orderBy("lang").collect()
    // largest-remainder apportionment: allocations sum to EXACTLY the budget
    assert(out.map(_.getAs[Long]("alloc")).sum == 40000L)
    // weights are exact integer square roots
    out.foreach { r =>
      val (n, w) = (r.getAs[Long]("n_tok_lang"), r.getAs[Long]("weight"))
      assert(w * w <= n && (w + 1) * (w + 1) > n)
    }
    // the smoothing property: epochs (allocation relative to size) is
    // non-increasing in language size — smaller languages are upweighted
    val bySize = out.sortBy(_.getAs[Long]("n_tok_lang"))
      .map(_.getAs[Long]("epochs_micro"))
    assert(bySize.zip(bySize.tail).forall { case (a, b) => a >= b })
    // isqrt column is exact across boundary values (k², k²±1) and 0/1
    val probes = Seq(0L, 1L, 2L, 3L, 4L, 8L, 9L, 10L, 15L, 16L, 17L,
      99L, 100L, 101L, (1L << 40) - 1, 1L << 40, (1L << 40) + 1,
      4611686018427387903L /* 2^62-1 */)
    val got = spark.createDataFrame(probes.map(Tuple1(_))).toDF("x")
      .select(col("x"), Sampling.isqrt(col("x")).as("s")).collect()
    got.foreach { r =>
      val (x, s) = (r.getLong(0), r.getLong(1))
      assert(s >= 0 && s * s <= x && (s + 1) * (s + 1) > x, s"isqrt($x) = $s")
    }
  }

  test("wordpiece merges by likelihood ratio, not raw pair count") {
    import graft.pipeline.{Bpe, WordPiece}
    // (a,##a) is the most FREQUENT pair (10 vs 9) but 'a' is common
    // (count 20), so its likelihood ratio 10/(20·20) loses to (b,##c)'s
    // 9/(9·9) — the defining difference from BPE, which picks (a,##a)
    val fixture = spark.createDataFrame(
      (1 to 10).map(i => (i.toLong, "aa", "en", "s1", 2L)) ++
      (11 to 19).map(i => (i.toLong, "bc", "en", "s1", 2L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val wp = WordPiece.train(spark, fixture, merges = 1).collect()(0)
    assert((wp.getAs[String]("left"), wp.getAs[String]("right")) == ("b", "##c"))
    assert(wp.getAs[String]("merged") == "bc")
    assert(wp.getAs[Long]("pair_count") == 9L)
    // floor(9 · 10^12 / (9 · 9)) — the quantized likelihood, exact
    assert(wp.getAs[Long]("score_q") == 111111111111L)
    // BPE on the same corpus picks a count-10 'a'-pair (the tie between
    // (a,a) and (a,</w>) breaks lexicographically to the latter) — the
    // likelihood trainer and the count trainer genuinely disagree here
    val bpe = Bpe.train(spark, fixture, merges = 1).collect()(0)
    assert((bpe.getAs[String]("left"), bpe.getAs[String]("right")) == ("a", "</w>"))
    // round trip: the merged word collapses, the unmerged one keeps the
    // BERT continuation convention
    val toks = fixture.select(col("text"),
        WordPiece.tokenize(col("text"), Seq(("b", "##c"))).as("p"))
      .distinct().collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(toks("bc") == Seq("bc"))
    assert(toks("aa") == Seq("a", "##a"))
  }

  test("gopher quality rules flag the documented failure modes") {
    val fixture = spark.createDataFrame(Seq(
      // passes every rule: 50+ short alphabetic words with stopwords
      (1L, ("the quick brown fox jumps over a lazy dog and " * 5).trim, "en", "s1", 0L),
      // word-count floor: 5 words (other rules pass)
      (2L, "the tiny doc for it", "en", "s1", 0L),
      // mean word length > 10
      (3L, ("extraordinarily incomprehensible " * 30).trim, "en", "s1", 0L),
      // symbol-heavy: one '#' per word plus ellipsis runs
      (4L, ("the ### fox ... and ##### dog ...... " * 10).trim, "en", "s1", 0L),
      // numeric: no word contains a letter, no stopwords
      (5L, ("123 4567 890 " * 20).trim, "en", "s1", 0L)
    )).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.gopherQuality(fixture, minWords = 30L)
      .orderBy("doc_id").collect()
    def flags(i: Int) = Seq("f_words", "f_mean_len", "f_alpha", "f_symbol",
                            "f_stop").map(f => out(i).getAs[Long](f))
    assert(out(0).getAs[Long]("gopher_pass") == 1L)
    assert(flags(1) == Seq(0L, 1L, 1L, 1L, 1L))       // only word count fails
    assert(out(2).getAs[Long]("f_mean_len") == 0L)
    assert(out(3).getAs[Long]("f_symbol") == 0L)
    assert(out(3).getAs[Double]("symbol_ratio") > 0.1)
    assert(flags(4) == Seq(1L, 1L, 0L, 1L, 0L))       // alpha + stopword fail
    assert(out.count(_.getAs[Long]("gopher_pass") == 1L) == 1)
    // signals are exact counts over the token array
    assert(out(0).getAs[Long]("n_words") == 50L)
    assert(out(0).getAs[Long]("stop_hits") == 15L)    // the, over, a x5... the/a/and/over
  }

  test("redaction and decontamination are idempotent") {
    import graft.pipeline.{Decontam, Redact}
    // redaction tags contain no redactable characters, so a second pass is
    // a no-op on every document
    val once = docs.select(col("doc_id"),
      Redact.redact(concat(col("text"),
        lit(" x@y.zz 1.2.3.4 123-45-6789 +123456789"))).as("r"))
    val twice = once.select(col("doc_id"), Redact.redact(col("r")).as("r"))
    assert(once.orderBy("doc_id").collect().toSeq ==
           twice.orderBy("doc_id").collect().toSeq)
    // decontaminating an already-clean corpus removes nothing
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val clean = Decontam.decontaminate(docs, bench, n = 5)
    assert(Decontam.decontaminate(clean, bench, n = 5).count() == clean.count())
  }

  test("vocabulary ranks tokens by total count with deterministic ties") {
    val v = TextAnalysis.vocabulary(docs, topK = 10).collect()
    assert(v.length <= 10 && v.nonEmpty)
    val totals = v.map(_.getAs[Long]("n_total"))
    assert(totals.sameElements(totals.sortBy(-_)), "n_total must be non-increasing")
    v.sliding(2).foreach {
      case Array(x, y) =>
        if (x.getAs[Long]("n_total") == y.getAs[Long]("n_total"))
          assert(x.getAs[String]("token") < y.getAs[String]("token"))
      case _ =>
    }
    assert(v.map(_.getAs[Long]("rank")).sameElements(1L to v.length))
    // df <= total; both positive
    v.foreach { r =>
      assert(r.getAs[Long]("n_docs") <= r.getAs[Long]("n_total"))
      assert(r.getAs[Long]("n_docs") > 0)
    }
  }

  test("packing: sequences are exactly seqLen except each group's last, " +
       "token totals conserved, spans contiguous, deterministic") {
    import graft.pipeline.{Packing, TextPrep}
    val L = 50L
    val packed = Packing.packSequences(docs, L).cache()
    val manifest = Packing.packedManifest(docs, L)
      .orderBy("source", "seq_id").collect()

    // full sequences carry exactly L tokens; only a group's last may be short
    manifest.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      val last = rows.map(_.getAs[Long]("seq_id")).max
      rows.foreach { r =>
        val n = r.getAs[Long]("n_tokens")
        if (r.getAs[Long]("seq_id") < last) assert(n == L)
        else assert(n > 0 && n <= L)
      }
      // seq ids are dense from 0
      assert(rows.map(_.getAs[Long]("seq_id")).sorted.sameElements(0L to last))
    }

    // conservation: packed token mass == corpus token mass (nonempty docs)
    val corpusTokens = docs
      .select(size(TextPrep.words(col("text"))).cast("long").as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(manifest.map(_.getAs[Long]("n_tokens")).sum == corpusTokens)

    // each document occupies a contiguous sequence range within its group
    packed.groupBy("doc_id").agg(min("seq_id").as("lo"), max("seq_id").as("hi"),
        count(lit(1)).as("n"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("hi") - r.getAs[Long]("lo") + 1 == r.getAs[Long]("n"))
      }

    // replay-stable
    val again = Packing.packSequences(docs, L)
    assert(packed.orderBy("source", "seq_id", "doc_id").collect().toSeq ==
           again.orderBy("source", "seq_id", "doc_id").collect().toSeq)
    packed.unpersist()
  }

  test("language model: n_bigrams = tokens-1, self-corpus entropy bounded by " +
       "smoothed-vocab ceiling, unseen text scores strictly worse") {
    import graft.pipeline.{LanguageModel, TextPrep}
    val scored = LanguageModel.crossEntropy(docs, docs).cache()
    val tokCounts = docs.select(col("doc_id"),
        size(TextPrep.words(lower(col("text")))).cast("long").as("n"))
      .filter(col("n") >= 2)
    // every >=2-token doc is scored, with exactly n-1 bigrams
    val joined = scored.join(tokCounts, "doc_id").collect()
    assert(joined.length == tokCounts.count())
    joined.foreach { r =>
      assert(r.getAs[Long]("n_bigrams") == r.getAs[Long]("n") - 1)
      assert(r.getAs[Double]("cross_entropy") > 0.0)
    }

    // gibberish absent from the reference must cost more nats than the
    // corpus's own median document
    val ss = spark
    import ss.implicits._
    val junk = Seq((999999L, "zzqx glorbb wibblefrag snorp zzqx glorbb krel"))
      .toDF("doc_id", "text")
    val junkH = LanguageModel.crossEntropy(junk, docs)
      .head().getAs[Double]("cross_entropy")
    val selfMedian = scored.stat.approxQuantile("cross_entropy", Array(0.5), 0.0)(0)
    assert(junkH > selfMedian,
      s"unseen text ($junkH nats) should exceed corpus median ($selfMedian)")
    scored.unpersist()
  }

  test("subword stats: contractions split, fertility >= 1, null text -> null counts") {
    import graft.pipeline.TextAnalysis
    val ss = spark
    import ss.implicits._
    val fixture = Seq(
      (1L, "Don't stop-me now, it's 42.7 degrees!"),
      (2L, "plain words only here"),
      (3L, null.asInstanceOf[String]),
      (4L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.subwordStats(fixture).orderBy("doc_id").collect()
    // doc 1: Don | 't | stop | - | me | now | , | it | 's | 42 | . | 7 | degrees | ! = 14 pieces, 6 words
    assert(r(0).getAs[Long]("n_pieces") == 14L && r(0).getAs[Long]("n_words") == 6L)
    // doc 2: one piece per word
    assert(r(1).getAs[Long]("n_pieces") == 4L &&
           r(1).getAs[Double]("fertility") == 1.0)
    assert(r(2).isNullAt(r(2).fieldIndex("n_pieces")) &&
           r(2).isNullAt(r(2).fieldIndex("fertility")))
    assert(r(3).getAs[Long]("n_pieces") == 0L &&
           r(3).isNullAt(r(3).fieldIndex("fertility")))
    // corpus-wide: every non-null doc has pieces >= words (splitting only adds)
    val bad = TextAnalysis.subwordStats(docs)
      .filter(col("n_pieces").isNotNull && col("n_pieces") < col("n_words")).count()
    assert(bad == 0L, "subword pre-tokenization can only split words, never merge")
  }

  test("prepareAndPack conserves the prepared corpus's token mass and " +
       "respects the per-source budget") {
    import graft.pipeline.TrainingPrep
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val roll = TrainingPrep.prepare(docs, bench, budgetPerGroup = 500L)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("n_tokens")).toMap
    val packed = TrainingPrep.prepareAndPack(docs, bench, seqLen = 64L,
        budgetPerGroup = 500L)
      .groupBy("source").agg(sum("n_tokens").as("t")).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("t")).toMap
    assert(packed == roll, s"packed token mass $packed != prepared $roll")
    assert(roll.values.forall(_ <= 500L))
  }

  test("PQ encoding: m codes per vector in [0,k); codebook vectors encode " +
       "to themselves in their own subspace; IVF-PQ returns full ranked lists") {
    import graft.pipeline.{Similarity => S}
    val enc = S.pqEncode(emb, m = 8, k = 16).collect()
    assert(enc.length == emb.count())
    enc.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 16),
             s"bad code vector: $codes")
    }
    // a codebook seed vector's distance to its own subvector is 0, so it
    // must encode to its own code in every subspace
    val self = enc.filter(_.getLong(0) < 16)
    self.foreach { r =>
      assert(r.getSeq[Int](1).forall(_ == r.getLong(0).toInt),
             s"seed ${r.getLong(0)} not self-coded: ${r.getSeq[Int](1)}")
    }
    val pq = S.ivfPqTopK(emb, emb.filter(col("vec_id") < 3), nlist = 8,
                         nProbe = 2, m = 8, k = 16, topk = 5)
    val perQ = pq.collect().groupBy(_.getLong(0))
    assert(perQ.keySet == Set(0L, 1L, 2L) &&
           perQ.values.forall(_.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L)))
  }

  test("importance resampling ranks target-like docs above off-distribution " +
       "docs and is deterministic") {
    import spark.implicits._
    // target speaks vocab A; source mixes A-docs and B-docs
    val target = Seq((100L, "alpha beta gamma delta"),
                     (101L, "alpha beta epsilon zeta")).toDF("doc_id", "text")
    val source = Seq(
      (1L, "alpha beta gamma"),          // target-like
      (2L, "alpha epsilon delta zeta"),  // target-like
      (3L, "xray yankee zulu quebec"),   // off-distribution
      (4L, "zulu quebec xray tango")     // off-distribution
    ).toDF("doc_id", "text")
    val r = Sampling.importanceResample(source, target, buckets = 64, n = 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(Set(1L, 2L).forall(a => Set(3L, 4L).forall(b => r(a) > r(b))),
           s"target-like docs not ranked above off-distribution: $r")
    // top-n cut is deterministic (ties by doc_id) and repeatable
    val top2a = Sampling.importanceResample(source, target, buckets = 64, n = 2)
      .collect().map(_.getLong(0)).toSet
    val top2b = Sampling.importanceResample(source, target, buckets = 64, n = 2)
      .collect().map(_.getLong(0)).toSet
    assert(top2a == Set(1L, 2L) && top2a == top2b)
  }

  test("AVI codec: round-trip with final-frame padding, bottom-up row flip " +
       "with stride padding, rejection of non-AVI and wrong bit depths") {
    import graft.pipeline.Multimodal
    // round trip: 300 payload bytes at 16x8 -> 3 frames, last zero-padded
    val payload = Array.tabulate(300)(i => ((i * 7 + 3) % 251).toByte)
    val avi = Multimodal.aviFromBytes(payload, w = 16, h = 8)
    val Some((w, h, frames)) = Multimodal.decodeAvi(avi)
    assert((w, h, frames.length) == (16, 8, 3))
    for (f <- 0 until 3; i <- 0 until 128) {
      val src = f * 128 + i
      val expect = if (src < payload.length) payload(src) & 0xff else 0
      assert(frames(f)(i) == expect, s"frame $f pixel $i")
    }
    // bottom-up + stride: w=3 (stride 4), h=2; DIB stores the bottom image
    // row first and pads each row to the DWORD boundary
    val dib = Array[Byte](1, 2, 3, 99 /*pad*/, 4, 5, 6, 98 /*pad*/)
    val Some((_, _, flipped)) =
      Multimodal.decodeAvi(Multimodal.assembleAvi(3, 2, Seq(dib)))
    assert(flipped.head.toSeq == Seq(4, 5, 6, 1, 2, 3),
           s"row flip/stride wrong: ${flipped.head.toSeq}")
    // rejection: truncation, wrong magic, non-8-bit depth
    assert(Multimodal.decodeAvi(avi.take(40)).isEmpty)
    val notAvi = avi.clone(); notAvi(8) = 'W'
    assert(Multimodal.decodeAvi(notAvi).isEmpty)
    val bits24 = Multimodal.aviFromBytes(payload)
    // strf's biBitCount lives 14 bytes into the chunk body; flip it to 24
    val strfAt = {
      var i = 0
      while (!(bits24(i) == 's' && bits24(i+1) == 't' && bits24(i+2) == 'r' &&
               bits24(i+3) == 'f')) i += 1
      i + 8
    }
    bits24(strfAt + 14) = 24
    assert(Multimodal.decodeAvi(bits24).isEmpty)
  }

  test("BPE: greedy leftmost merge is non-overlapping; training reproduces " +
       "the hand-computed merge table; tokenize round-trips the merges") {
    import graft.pipeline.Bpe
    import spark.implicits._
    // non-overlap: (a,a) over "aaaa b aa" merges disjoint leftmost pairs
    val syms = Seq(Tuple1(Seq("a", "a", "a", "a", "b", "a", "a"))).toDF("st")
    val merged = syms.select(Bpe.applyMerge(col("st"), "a", "a").as("m"))
      .head.getSeq[String](0)
    assert(merged == Seq("aa", "aa", "b", "aa"), s"got $merged")
    // corpus: "low" x3, "lower" x2 -> classic Sennrich example shape
    val corpus = Seq("low low low", "lower lower").toDF("text")
      .withColumn("doc_id", lit(1L))
    val m = Bpe.train(spark, corpus, merges = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
                           r.getString(3), r.getLong(4)))
    // pair counts round 1: (l,o)=5, (o,w)=5, (w,</w>)=3, (w,e)=2, (e,r)=2,
    // (r,</w>)=2 -> lexicographic tie-break picks (l,o) before (o,w)
    assert(m(0) == (1L, "l", "o", "lo", 5L), s"got ${m(0)}")
    assert(m(1) == (2L, "lo", "w", "low", 5L), s"got ${m(1)}")
    assert(m(2) == (3L, "low", "</w>", "low</w>", 3L), s"got ${m(2)}")
    assert(m(3) == (4L, "e", "r", "er", 2L), s"got ${m(3)}")
    // tokenize with the trained table: "low" collapses to its word token
    val toks = Seq(Tuple1("low")).toDF("w")
      .select(Bpe.tokenize(col("w"), m.map(x => (x._2, x._3)).toSeq).as("t"))
      .head.getSeq[String](0)
    assert(toks == Seq("low</w>"), s"got $toks")
  }

  test("BPE training matches an in-memory reference model on randomized corpora") {
    import graft.pipeline.Bpe
    import spark.implicits._
    // reference model: same spec — per-position pair counts weighted by
    // word frequency, (count desc, l, r) tie-break, greedy leftmost fold
    def refTrain(words: Seq[String], merges: Int): Seq[(String, String, Long)] = {
      var state: Map[String, (Vector[String], Long)] =
        words.groupBy(identity).map { case (w, ws) =>
          w -> (w.map(_.toString).toVector :+ "</w>", ws.size.toLong)
        }
      val out = Vector.newBuilder[(String, String, Long)]
      for (_ <- 1 to merges) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        state.values.foreach { case (syms, f) =>
          syms.sliding(2).filter(_.size == 2).foreach { p =>
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
          }
        }
        if (counts.nonEmpty) {
          val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
          out += ((l, r, c))
          state = state.map { case (w, (syms, f)) =>
            val merged = syms.foldLeft(Vector.empty[String]) { (acc, x) =>
              if (acc.nonEmpty && acc.last == l && x == r)
                acc.init :+ (l + r)
              else acc :+ x
            }
            w -> (merged, f)
          }
        }
      }
      out.result()
    }
    val rng = new scala.util.Random(20260815L)
    for (trial <- 1 to 6) {
      val words = Seq.fill(5 + rng.nextInt(25))(
        Seq.fill(1 + rng.nextInt(5))(('a' + rng.nextInt(4)).toChar).mkString)
      val df = Seq(words.mkString(" ")).toDF("text").withColumn("doc_id", lit(1L))
      val got = Bpe.train(spark, df, merges = 4).orderBy("rank")
        .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
      val want = refTrain(words, merges = 4)
      assert(got == want, s"trial $trial diverged on corpus $words:\n got $got\nwant $want")
    }
  }

  test("semantic dedup: kept set is near-dup-free per cluster and every " +
       "dropped member has a lower-ordered same-cluster witness") {
    import graft.pipeline.{Dedup => D, Similarity => S}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val r = D.semanticDedup(emb, k = 4, threshold = 0.3)
    val v = emb.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val withV = r.join(v, "vec_id")
    // kept x kept within a cluster: no pair may reach the threshold
    val keptDup = withV.filter(col("kept") === 1).as("a")
      .join(withV.filter(col("kept") === 1).as("b"),
            col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .filter(S.cosine(col("a.v"), col("b.v")) >= 0.3).count()
    assert(keptDup == 0, "two kept members of one cluster are near-dups")
    // every dropped member has a witness: same cluster, cos >= t, lower order
    val orphans = withV.filter(col("kept") === 0).as("a")
      .join(withV.as("b"),
            col("a.cid") === col("b.cid") && col("a.vec_id") =!= col("b.vec_id") &&
            (col("b.cent_sim") < col("a.cent_sim") ||
             (col("b.cent_sim") === col("a.cent_sim") &&
              col("b.vec_id") < col("a.vec_id"))) &&
            S.cosine(col("a.v"), col("b.v")) >= 0.3, "left_semi")
    assert(orphans.count() == withV.filter(col("kept") === 0).count(),
           "a dropped member has no qualifying witness")
    // partition: every vector classified exactly once
    assert(r.count() == emb.count())
  }

  test("domain mixture: per-source token budgets hold, non-whitelisted " +
       "sources are excluded, and admission follows salted-hash order") {
    val mix = Sampling.domainMixture(docs,
      Map("src0" -> 4.0, "src1" -> 2.0, "src2" -> 1.0, "src3" -> 1.0),
      totalTokens = 4000L)
    val budgets = Map("src0" -> 2000L, "src1" -> 1000L,
                      "src2" -> 500L, "src3" -> 500L)
    val got = mix.groupBy("source")
      .agg(sum(size(graft.pipeline.TextPrep.words(col("text"))).cast("long")).as("t"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("t")).toMap
    assert(got.keySet.subsetOf(budgets.keySet), s"non-whitelisted source kept: $got")
    got.foreach { case (src, t) =>
      assert(t <= budgets(src), s"$src exceeded its share: $t > ${budgets(src)}")
    }
    // hash-order admission: kept and excluded docs of one source never
    // interleave out of order — the max kept hash is below the min excluded
    // hash among docs that would have fit had order been adversarial
    val h = graft.pipeline.TextPrep.hash64(
      concat(col("doc_id").cast("string"), lit(":mix")))
    val src0 = docs.filter(col("source") === "src0")
    val keptIds = mix.filter(col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rows = src0.select(col("doc_id"), h.as("h"),
        size(graft.pipeline.TextPrep.words(col("text"))).cast("long").as("t"))
      .orderBy("h", "doc_id").collect()
    var cum = 0L
    rows.foreach { row =>
      cum += row.getAs[Long]("t")
      val expectKept = cum <= 2000L
      assert(keptIds.contains(row.getLong(0)) == expectKept,
             s"doc ${row.getLong(0)} admission diverges from hash-order prefix")
    }
  }

  test("winnowing guarantee: docs sharing a w+k-1 word run share a fingerprint") {
    import spark.implicits._
    // k=4, w=4: any shared run of 7 words must produce a shared fingerprint
    val shared = "red orange yellow green blue indigo violet"
    val d = Seq(
      (1L, s"aa bb cc $shared dd ee"),
      (2L, s"$shared xx yy zz ww qq rr"),
      (3L, "unrelated words entirely disjoint from both documents here"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(d, k = 4, w = 4)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    assert((fps(1L) & fps(2L)).nonEmpty, "shared 7-word run produced no shared fp")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty,
           "disjoint doc shares a fingerprint")
  }

  test("duplicated-span stats: verbatim duplicate saturates, unique doc is zero") {
    import spark.implicits._
    val d = Seq(
      (1L, "one two three four five six seven eight"),
      (2L, "one two three four five six seven eight"), // verbatim copy of 1
      (3L, "nine ten eleven twelve thirteen fourteen"))
      .toDF("doc_id", "text")
    val r = Dedup.dupSpanStats(d, n = 5).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L) == ((4L, 4L)) && r(2L) == ((4L, 4L)),
           s"verbatim duplicates should have every span duplicated: $r")
    assert(r(3L) == ((2L, 0L)), s"unique doc should have zero duplicated spans: $r")
  }

  test("tf-idf: corpus-universal tokens score zero; rank 1 is the doc's max") {
    import spark.implicits._
    val d = Seq(
      (1L, "common alpha alpha alpha"),
      (2L, "common beta beta"),
      (3L, "common gamma")).toDF("doc_id", "text")
    val rows = TextAnalysis.tfidfTopK(d, topK = 4).collect()
    // 'common' appears in every doc -> idf = ln(1) = 0
    assert(rows.filter(_.getString(1) == "common").forall(_.getDouble(4) == 0.0))
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.values.forall { rs =>
      val top = rs.minBy(_.getLong(5))
      top.getDouble(4) == rs.map(_.getDouble(4)).max
    })
  }

  test("naive bayes classifier separates seed vocabularies and is replayable") {
    import spark.implicits._
    import graft.pipeline.Classifier
    val seed = Seq(
      (1L, "good clean prose with structure", 1),
      (2L, "good thoughtful clean writing here", 1),
      (3L, "spam spam click buy now", 0),
      (4L, "buy click spam offer now", 0)).toDF("doc_id", "text", "label")
    val model = Classifier.trainNaiveBayes(seed)
    val stats = Classifier.nbStats(seed, model)
    val unseen = Seq((10L, "clean good prose"), (11L, "click buy spam"),
                     (12L, "entirely novel vocabulary")).toDF("doc_id", "text")
    val r = Classifier.scoreNaiveBayes(unseen, model, stats)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(10L) > 0 && r(11L) < 0, s"classifier failed to separate: $r")
    // all-unseen doc falls back to prior + mass term only (classes are
    // balanced here, so mass dominates and the value is finite)
    assert(!r(12L).isNaN && !r(12L).isInfinite)
    val r2 = Classifier.scoreNaiveBayes(unseen, model, stats)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r == r2, "scoring is not deterministic across runs")
  }

  test("bm25 scores exactly the docs matching a query term, all positive") {
    val tf = search.FullText.buildTfIndex(
      docs.select(col("doc_id").as("doc"), col("text")))
    val matched = tf.filter(col("term").isin("spark", "join", "fast"))
      .select("doc").distinct().collect().map(_.getLong(0)).toSet
    val scored = search.FullText.searchBm25(tf, Seq("spark", "join", "fast"))
      .collect()
    assert(scored.map(_.getLong(0)).toSet == matched,
           "BM25 candidate set diverges from the matched-postings set")
    assert(scored.forall(_.getDouble(1) > 0.0), "BM25 idf floor keeps scores > 0")
  }

  test("unigram-LM training matches an in-memory reference bit-for-bit on randomized corpora") {
    import spark.implicits._
    def round12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val K = 4
    // exact mirror of Unigram.train's arithmetic (same fold orders, same
    // quantization points) — any divergence is a determinism bug
    def refTrain(wf: Map[String, Long], seedMulti: Int, emIters: Int,
                 keepMulti: Int): Map[String, Double] = {
      val tot = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((w, f) <- wf; j <- 0 until w.length;
           k <- 1 to math.min(K, w.length - j))
        tot(w.substring(j, j + k)) += f
      val singles = tot.toSeq.filter(_._1.length == 1)
      val multis = tot.toSeq.filter(_._1.length >= 2)
        .sortBy { case (p, t) => (-t, p) }.take(seedMulti)
      val z0 = (singles ++ multis).map(_._2).sum
      var vocab = (singles ++ multis)
        .map { case (p, t) => p -> round12(t.toDouble / z0) }.toMap
      for (_ <- 1 to emIters) {
        val cq = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
        for ((w, f) <- wf) {
          val L = w.length
          val a = Array.fill(L + 1)(0.0); a(0) = 1.0
          for (i <- 1 to L)
            a(i) = (1 to math.min(K, i)).foldLeft(0.0) { (s, k) =>
              s + a(i - k) * vocab.getOrElse(w.substring(i - k, i), 0.0) }
          val g = Array.fill(L + 1)(0.0); g(0) = 1.0
          for (i <- 1 to L)
            g(i) = (1 to math.min(K, i)).foldLeft(0.0) { (s, k) =>
              s + vocab.getOrElse(w.substring(L - i, L - i + k), 0.0) * g(i - k) }
          def beta(j: Int) = g(L - j)
          val zz = a(L)
          if (zz > 0.0)
            for (j <- 0 until L; k <- 1 to math.min(K, L - j)) {
              val piece = w.substring(j, j + k)
              val cnt = ((f.toDouble * a(j)) *
                         vocab.getOrElse(piece, 0.0)) * beta(j + k) / zz
              if (cnt > 0.0) cq(piece) += math.round(cnt * 1e10)
            }
        }
        val totq = cq.values.sum
        vocab = vocab.keys.map { p =>
          p -> round12(cq(p).toDouble / totq) }.toMap
      }
      val s2 = vocab.toSeq.filter(_._1.length == 1)
      val m2 = vocab.toSeq.filter(_._1.length >= 2)
        .sortBy { case (p, pr) => (-pr, p) }.take(keepMulti)
      val kept = s2 ++ m2
      val zq = kept.map { case (_, pr) => math.round(pr * 1e12) }.sum
      val z = zq.toDouble / 1e12
      kept.map { case (p, pr) => p -> round12(pr / z) }.toMap
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val alpha = "abc"
      val words = Seq.fill(30 + trial * 10) {
        (1 to (1 + rnd.nextInt(6)))
          .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      }
      val d = words.zipWithIndex
        .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val got = graft.pipeline.Unigram
        .train(spark, d, maxLen = K, seedMulti = 10, emIters = 2, keepMulti = 6)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val wf = words.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      val want = refTrain(wf, seedMulti = 10, emIters = 2, keepMulti = 6)
      assert(got == want,
             s"trial $trial diverged:\n got=${got.toSeq.sorted}\nwant=${want.toSeq.sorted}")
    }
  }

  test("unigram Viterbi piece counts match the reference fold policy") {
    import spark.implicits._
    val d = Seq((1L, "abcab abab cab ab a")).toDF("doc_id", "text")
    val model = graft.pipeline.Unigram.train(spark, d, maxLen = 4,
      seedMulti = 8, emIters = 2, keepMulti = 4)
    val vocab = model.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val vm = model.agg(map_from_entries(sort_array(
      collect_list(struct(col("piece"), col("p"))))).as("vm"))
    val words = Seq("abcab", "abab", "cab", "ab", "a").toDF("word")
    val got = words.crossJoin(broadcast(vm))
      .select(col("word"),
        graft.pipeline.Unigram.viterbiPieces(col("word"), col("vm"), 4).as("c"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    def refViterbi(w: String): Int = {
      val K = 4; val L = w.length
      val v = Array.fill(L + 1)(0.0); val c = Array.fill(L + 1)(0)
      v(0) = 1.0
      for (i <- 1 to L) {
        var bv = 0.0; var bc = 0
        for (k <- 1 to math.min(K, i)) {
          val cv = v(i - k) * vocab.getOrElse(w.substring(i - k, i), 0.0)
          val cc = c(i - k) + 1
          if (cv > bv || (cv == bv && cv > 0.0 && cc < bc)) { bv = cv; bc = cc }
        }
        v(i) = bv; c(i) = bc
      }
      c(L)
    }
    got.foreach { case (w, n) =>
      assert(n == refViterbi(w), s"viterbi($w): got $n want ${refViterbi(w)}")
      assert(n >= 1 && n <= w.length)
    }
  }

  test("exactSubstrTrim removes later copies of >=n-word shared spans, keeps the first") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta" // 6 words, n = 5
    val d = Seq(
      (1L, s"intro $shared tail one"),
      (2L, s"other prefix words $shared closing"),
      (3L, s"repeat here $shared and again $shared done")).toDF("doc_id", "text")
    val out = Dedup.exactSubstrTrim(d, 5).orderBy("doc_id").collect()
    // doc 1 is the corpus-first occurrence: untouched
    assert(out(0).getString(1) == s"intro $shared tail one")
    assert(out(0).getLong(3) == 0L)
    // doc 2 loses exactly the shared 6-word run
    assert(out(1).getString(1) == "other prefix words closing")
    assert(out(1).getLong(3) == 6L)
    // doc 3: BOTH copies trimmed (neither is the corpus-first occurrence)
    assert(out(2).getString(1) == "repeat here and again done")
    assert(out(2).getLong(3) == 12L)
  }

  test("unimax waterfilling: exact allocations on hand-computed scenarios") {
    import spark.implicits._
    def mk(id: Long, lang: String, n: Int) =
      (id, Seq.fill(n)("w").mkString(" "), lang)
    // one doc per language; caps at 2 epochs: a=20, b=100, c=2000
    val d = Seq(mk(1, "a", 10), mk(2, "b", 50), mk(3, "c", 1000))
      .toDF("doc_id", "text", "lang")
    def allocs(budget: Long) =
      Sampling.unimaxAllocations(d, budget, 2).collect()
        .map(r => r.getString(0) -> r.getLong(3)).toMap
    // B=300: a,b fully satisfied (20, 100); c absorbs the rest (180)
    assert(allocs(300L) == Map("a" -> 20L, "b" -> 100L, "c" -> 180L))
    // B=7: nobody satisfiable, level floor(7/3)=2, remainder 1 goes to the
    // first language in (cap, lang) order
    assert(allocs(7L) == Map("a" -> 3L, "b" -> 2L, "c" -> 2L))
    // budget above total capacity: every language at its epoch cap
    val full = Sampling.unimaxAllocations(d, 10000L, 2).collect()
    assert(full.forall(r => r.getLong(3) == r.getLong(2)))
    assert(full.forall(r => r.getLong(4) == 2000000L),
           "epochs_micro at the cap = maxEpochs * 1e6")
    // budget conservation when truncated: allocations sum exactly to B
    assert(allocs(300L).values.sum == 300L)
    assert(allocs(7L).values.sum == 7L)
  }

  test("unimax sampling: per-language admitted tokens never exceed the allocation") {
    val out = Sampling.unimaxSample(docs, totalBudget = 4000L, maxEpochs = 2)
    val per = out.groupBy("lang")
      .agg(sum("n_tok").as("t"), max("alloc").as("a"), max("cum_tok").as("c"))
      .collect()
    assert(per.nonEmpty)
    per.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2),
             s"lang ${r.getString(0)} admitted ${r.getLong(1)} > alloc ${r.getLong(2)}")
      assert(r.getLong(3) == r.getLong(1),
             "cum_tok of the last admitted doc equals the admitted total")
    }
  }
}
