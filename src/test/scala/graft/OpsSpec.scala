package graft

import graft.ops.{Dedup, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Semantic anchors for the oracle-free approximate operators
  * (q_dedup_minhash / q_dedup_simhash / q_knn_lsh): each is checked
  * against its exact counterpart on the deterministic sf0.001 tables.
  */
class OpsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def docs = Tables.documents(spark, sf)
  private def embs = Tables.embeddings(spark, sf)

  test("minhash pairs contain every exact high-Jaccard pair, with close estimates") {
    val exact = Dedup.jaccardPairs(docs, threshold = 0.4, n = 3)
      .select("id1", "id2", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    val mh = Dedup.minhashPairs(docs, threshold = 0.35)
      .select("id1", "id2", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val missed = exact.keySet -- mh.keySet
    assert(missed.isEmpty, s"minhash+LSH missed exact pairs: $missed")
    // k=64 minima: estimator stddev ≈ sqrt(J(1-J)/64) ≤ 0.0625
    exact.foreach { case (pair, j) =>
      assert(math.abs(mh(pair) - j) < 0.25, s"pair $pair est=${mh(pair)} exact=$j")
    }
  }

  test("verified minhash equals the exhaustive exact operator at near-dup thresholds") {
    // plant a one-token-appended twin per doc: trigram shingle sets
    // differ by ~2 shingles, so the pairs land at jaccard ≈ 0.95 — the
    // regime the propose/verify path targets. With seed-free xxhash64
    // the banding is deterministic; per-pair propose probability at
    // j = 0.9 is 1 − (1 − 0.9⁴)¹⁶ ≈ 1 − 4e-8, and the verify step is
    // exact, so the output must equal the exhaustive PPJoin's.
    val d = docs.select("doc_id", "text")
    val corpus = d.unionByName(d.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" zq")).as("text")))
    def pairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select("id1", "id2", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairs(Dedup.jaccardPairs(corpus, threshold = 0.9, n = 3))
    assert(exact.size >= 400, s"planted twins should qualify, got ${exact.size}")
    val verified = pairs(Dedup.minhashPairsVerified(corpus, threshold = 0.9))
    assert(verified == exact, "verified minhash diverged from exhaustive exact")
    // collapse gate must not change the answer
    assert(pairs(Dedup.minhashPairsVerified(corpus, threshold = 0.9,
      collapseExact = false)) == exact, "uncollapsed verified minhash diverged")
  }

  test("verified simhash has precision 1 and finds exact clones with certainty") {
    val d = docs.select("doc_id", "text")
    // exact clones (normalize-identical): Hamming 0, proposed always
    val corpus = d.unionByName(d.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" ")).as("text")))
    def pairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select("id1", "id2", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairs(Dedup.jaccardPairs(corpus, threshold = 0.9, n = 3))
    val verified = pairs(Dedup.simhashPairsVerified(corpus, threshold = 0.9))
    // precision 1: every emitted pair is a true jaccard >= τ pair with
    // the true score (recall may lag — simhash's tail, see docstring)
    verified.foreach { case (p, j) =>
      assert(exact.get(p).contains(j), s"false positive or wrong score: $p -> $j")
    }
    // every clone pair is present at jaccard 1.0
    val cloneIds = d.select("doc_id").collect().map(_.getLong(0))
    cloneIds.foreach { i =>
      assert(verified.get((i, i + 1000000)).contains(1.0),
        s"exact clone pair ($i, ${i + 1000000}) missed")
    }
  }

  test("simhash banding finds exactly the pairs with hamming <= maxDist") {
    val sigs = Dedup.simhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // brute-force oracle: XOR popcount over all pairs (500 docs)
    val brute = (for {
      (i1, h1) <- sigs; (i2, h2) <- sigs if i1 < i2
      d = java.lang.Long.bitCount(h1 ^ h2) if d <= 3
    } yield (i1, i2) -> d).toMap
    val banded = Dedup.simhashPairs(docs, maxDist = 3)
      .select("id1", "id2", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // 4×16-bit chunk banding is exhaustive for dist <= 3 (pigeonhole:
    // 3 flipped bits can't touch all 4 chunks) — set AND values equal
    assert(banded == brute, s"banded=$banded brute=$brute")
  }

  test("LSH top-k recall >= 0.9 vs brute-force cosine (isotropic banding)") {
    val q = embs.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(embs, q, k = 10))
    // this corpus is isotropic (neighbors at cosine ≈ 0.35-0.5), the
    // regime that needs low-bit bands — passed explicitly; the default
    // is tuned for near-dups and is checked in the next test
    val lsh = pairs(Similarity.lshTopK(embs, q, k = 10, bands = 32, rowsPerBand = 4))
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"LSH recall $recall < 0.9 (|brute|=${brute.size})")
  }

  test("lshParamsForRecall: derived banding honors the collision-model floor, minimally") {
    def modelRecall(s: Double, bands: Int, rows: Int): Double = {
      val p = 1.0 - math.acos(s) / math.Pi
      1.0 - math.pow(1.0 - math.pow(p, rows), bands)
    }
    for ((sim, floor) <- Seq((0.4, 0.9), (0.8, 0.95), (0.5, 0.8), (0.9, 0.99))) {
      val (b, r) = Similarity.lshParamsForRecall(sim, floor)
      assert(modelRecall(sim, b, r) >= floor, s"($sim,$floor) -> ($b,$r) misses floor")
      // b is minimal for this r
      assert(b == 1 || modelRecall(sim, b - 1, r) < floor,
        s"($sim,$floor) -> ($b,$r): b not minimal")
      assert(b <= 64, s"($sim,$floor) -> ($b,$r): bands over budget")
      // r is maximal: r+1 would blow the band budget (unless already at cap)
      if (r < 16) {
        val p = 1.0 - math.acos(sim) / math.Pi
        val bNext = math.ceil(math.log1p(-floor) / math.log1p(-math.pow(p, r + 1)))
        assert(bNext > 64, s"($sim,$floor) -> ($b,$r): longer signature was affordable")
      }
    }
    // near-dup regime derives a short cheap banding; retrieval regime
    // a wide one — the trade the Scaladoc documents
    val (bNear, rNear) = Similarity.lshParamsForRecall(0.9, 0.9)
    val (bIso, rIso) = Similarity.lshParamsForRecall(0.4, 0.9)
    assert(bNear < bIso && rNear >= rIso)
    // the derived isotropic banding actually holds the floor on the
    // fixture (end-to-end, same params as the bench/q_knn_lsh)
    val q = embs.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(embs, q, k = 10))
    val derived = pairs(Similarity.lshTopKAtRecall(embs, q, k = 10))
    val recall = (brute & derived).size.toDouble / brute.size
    assert(recall >= 0.5, s"derived-banding recall $recall")
  }

  test("LSH default banding finds planted near-dups and prunes hard") {
    // plant exact twins: copies of the first 5 vectors under new ids —
    // the near-dup regime (cosine = 1.0) the default banding targets
    val twins = embs.filter(col("vec_id") < 5)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val corpus = embs.select("vec_id", "embedding").unionByName(twins)
    val q = embs.filter(col("vec_id") < 5)
    val top1 = Similarity.lshTopK(corpus, q, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 5L).foreach { i =>
      assert(top1.get(i).contains(i + 100000),
        s"default-banded LSH should return the planted twin for query $i, got ${top1.get(i)}")
    }
    // candidates are re-ranked with the SAME cosine expression as the
    // brute operator, so the twin rows must match brute top-1 exactly
    // (ids AND raw double scores)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(Similarity.lshTopK(corpus, q, k = 1)) ==
      rows(Similarity.bruteForceTopK(corpus, q, k = 1)),
      "LSH top-1 rows should be bit-identical to brute top-1 on the twin corpus")
    // pruning: candidate pairs scored must be well under all-pairs
    val scored = Similarity.lshTopK(corpus, q, k = Int.MaxValue).count()
    val allPairs = 5L * (corpus.count() - 1)
    assert(scored < allPairs / 4,
      s"default banding scored $scored of $allPairs possible pairs — not pruning")
  }

  test("minhashParamsForRecall: derived banding honors the S-curve floor, minimally, within budget") {
    def modelRecall(s: Double, bands: Int, rows: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, rows), bands)
    for ((sim, floor) <- Seq((0.8, 0.999), (0.5, 0.9), (0.9, 0.99), (0.6, 0.95))) {
      val (k, b) = Dedup.minhashParamsForRecall(sim, floor)
      val r = k / b
      assert(k % b == 0 && k <= 256, s"($sim,$floor) -> (k=$k,b=$b)")
      assert(modelRecall(sim, b, r) >= floor, s"($sim,$floor) -> (k=$k,b=$b) misses floor")
      assert(b == 1 || modelRecall(sim, b - 1, r) < floor,
        s"($sim,$floor) -> (k=$k,b=$b): band count not minimal")
    }
    // the near-dup contract derives r=4 banding in the shipped
    // default's regime (the default 64x16 rounds the band count up)
    assert(Dedup.minhashParamsForRecall(0.8, 0.999, maxK = 64) == ((56, 14)))
  }

  test("semanticDedupPairsCapped: == uncapped below the cap; top-priority subset above it") {
    // sign-planted cells (the entry's deterministic quantizer): even
    // ids -> |x| cell, odd -> -|x| cell
    val planted = embs.select(col("vec_id"),
      when(col("vec_id") % 2 === 0, transform(col("embedding"), x => abs(x)))
        .otherwise(transform(col("embedding"), x => -abs(x))).as("embedding"))
    val quant = Array[Seq[Float]](Seq.fill(64)(1.0f), Seq.fill(64)(-1.0f))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("id1", "id2", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = rows(Similarity.semanticDedupPairs(
      planted, threshold = 0.45, nCells = 2, centroids = Some(quant)))
    // non-binding cap: identical output (scores and all)
    val loose = rows(Similarity.semanticDedupPairsCapped(
      planted, threshold = 0.45, nCells = 2,
      maxPairsPerCell = uncapped.size + 10, centroids = Some(quant)))
    assert(loose == uncapped, s"|loose|=${loose.size} |uncapped|=${uncapped.size}")
    // binding cap: exactly the per-cell top-`cap` of the uncapped
    // output under the documented priority (score desc, id1, id2)
    val cap = 7
    val capped = rows(Similarity.semanticDedupPairsCapped(
      planted, threshold = 0.45, nCells = 2,
      maxPairsPerCell = cap, centroids = Some(quant)))
    val expect = uncapped.groupBy(_._1 % 2).values.flatMap { cell =>
      cell.toSeq.sortBy(p => (-p._3, p._1, p._2)).take(cap)
    }.toSet
    assert(capped == expect,
      s"capped diverged: extra=${capped -- expect} missing=${expect -- capped}")
    intercept[IllegalArgumentException] {
      Similarity.semanticDedupPairsCapped(planted, 0.45, 2, maxPairsPerCell = 0,
        centroids = Some(quant))
    }
    // CLONE-HEAVY branch (the 100 TB shape): 5 copies of every vector
    // trips the collapse probe; the capped output must still be
    // exactly the per-cell top-cap of the uncapped all-pairs output,
    // even though scoring ran on distinct reps and the expansion was
    // cap-bounded
    val clones = (0 until 5).map(j => planted.filter(col("vec_id") < 60)
      .select((col("vec_id") * 10 + j).as("vec_id"), col("embedding")))
      .reduce(_ unionByName _)
    val unc = rows(Similarity.semanticDedupPairs(
      clones, threshold = 0.45, nCells = 2, centroids = Some(quant)))
    val capC = 9
    val capped9 = rows(Similarity.semanticDedupPairsCapped(
      clones, threshold = 0.45, nCells = 2, maxPairsPerCell = capC,
      centroids = Some(quant)))
    val expect9 = unc.groupBy(p => (p._1 / 10) % 2).values.flatMap { cell =>
      cell.toSeq.sortBy(p => (-p._3, p._1, p._2)).take(capC)
    }.toSet
    assert(capped9 == expect9,
      s"clone-heavy capped diverged: extra=${capped9 -- expect9} missing=${expect9 -- capped9}")
  }

  test("sq8RerankTopK == bruteForceTopK when the candidate tier holds the true top-k") {
    // planted copies: each query vector appears 10 more times, so its
    // true top-10 is the copy set at cosine 1.0 — certain to survive
    // the compressed 50-candidate cut, making the composition exact
    val q = embs.filter(col("vec_id") < 5)
    val copies = q.select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(9))).as("j"))
      .select((lit(100000) + col("vec_id") * 10 + col("j")).as("vec_id"),
        col("embedding"))
    val corpus = embs.select("vec_id", "embedding").unionByName(copies)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("query_id", "vec_id", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // row-identical INCLUDING raw double scores: the re-rank uses the
    // same cosine expression as the exact operator
    assert(rows(Similarity.sq8RerankTopK(corpus, q, k = 10, kCand = 50)) ==
      rows(Similarity.bruteForceTopK(corpus, q, k = 10)),
      "sq8 re-rank composition diverged from exact top-k on the planted corpus")
    // kCand < k refused
    intercept[IllegalArgumentException] {
      Similarity.sq8RerankTopK(corpus, q, k = 10, kCand = 5)
    }
  }

  test("IVF probes recover most brute-force neighbors; full probing is exact") {
    val q = embs.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(embs, q, k = 10))
    // probing ALL cells degenerates to exact search — must match brute
    val full = pairs(Similarity.ivfTopK(embs, q, k = 10, nCells = 16, nProbe = 16))
    assert(full == brute)
    // partial probing keeps useful recall even on an isotropic corpus
    val partial = pairs(Similarity.ivfTopK(embs, q, k = 10, nCells = 16, nProbe = 8))
    val recall = (brute & partial).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF nProbe=8/16 recall $recall")
  }

  test("IVF-SQ8 full probe degenerates to the flat SQ8 scan, row-identical") {
    val q = embs.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("query_id", "vec_id", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val flat = rows(Similarity.sq8TopK(Similarity.sq8Encode(embs), q, k = 10))
    val ivf = rows(Similarity.ivfSq8TopK(embs, q, k = 10, nCells = 16, nProbe = 16))
    assert(ivf == flat)
  }

  test("incremental IVF-SQ8 index: base + frozen-quantizer delta == rebuild, serving identical") {
    val base = embs.filter(col("vec_id") % 5 =!= 0)
    val batch = embs.filter(col("vec_id") % 5 === 0)
    val cents = Similarity.sampledCentroids(base, 16)
    // both assignment AND SQ8 encoding are deterministic per row, so
    // the appended compressed index must equal a full re-encode
    val delta = Similarity.ivfSq8Index(base, cents)
      .unionByName(Similarity.ivfSq8Index(batch, cents))
    val rebuild = Similarity.ivfSq8Index(embs, cents)
    def keyed(df: org.apache.spark.sql.DataFrame): Set[(Int, Long, Double, Double, Seq[Byte])] =
      df.select("cell", "vec_id", "sq8.vmin", "sq8.delta", "sq8.codes").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getAs[Array[Byte]](4).toSeq)).toSet
    assert(keyed(delta) == keyed(rebuild))
    val q = embs.filter(col("vec_id") < 5)
    def served(ix: org.apache.spark.sql.DataFrame, nProbe: Int): Set[(Long, Long, Double)] =
      Similarity.ivfSq8TopKIndexed(ix, q, k = 10, cents, nProbe)
        .select("query_id", "vec_id", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Seq(4, 16).foreach { np =>
      assert(served(delta, np) == served(rebuild, np), s"nProbe=$np diverged")
    }
  }

  test("incremental IVF index: base + frozen-quantizer delta == full rebuild, serving identical") {
    val base = embs.filter(col("vec_id") % 5 =!= 0)
    val batch = embs.filter(col("vec_id") % 5 === 0)
    val cents = Similarity.sampledCentroids(base, 16)
    // assignment under a frozen quantizer is deterministic, so the
    // unioned index must be ROW-identical to indexing everything at
    // once — the invariant that makes append-only maintenance sound
    val delta = Similarity.ivfIndex(base, cents)
      .unionByName(Similarity.ivfIndex(batch, cents))
    val rebuild = Similarity.ivfIndex(embs, cents)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, Long)] =
      df.select("cell", "vec_id").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(rows(delta) == rows(rebuild))
    // and the served answers agree query-for-query at every probe depth
    val q = embs.filter(col("vec_id") < 5)
    def served(ix: org.apache.spark.sql.DataFrame, nProbe: Int): Set[(Long, Long)] =
      Similarity.ivfTopKIndexed(ix, q, k = 10, cents, nProbe)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(4, 16).foreach { np =>
      assert(served(delta, np) == served(rebuild, np), s"nProbe=$np diverged")
    }
  }

  test("trained IVF quantizer separates clusters; 1-probe search stays in-cluster") {
    import spark.implicits._
    // two tight, well-separated clusters: members are small jitters of
    // opposite-sign base vectors, so Lloyd means must converge onto
    // one centroid per cluster regardless of where the hash-sampled
    // init landed
    val dim = 8
    def member(cluster: Int, i: Int): (Long, Seq[Float]) = {
      val sign = if (cluster == 0) 1f else -1f
      val v = (0 until dim).map(d => sign * (1f + 0.01f * ((i + d) % 5)))
      (cluster * 1000L + i, v)
    }
    val rows = (0 until 40).flatMap(i => Seq(member(0, i), member(1, i)))
    val corpus = rows.toDF("vec_id", "embedding")
    val cents = Similarity.trainedCentroids(corpus, nCells = 2, iters = 3)
    // each trained centroid points into exactly one cluster (all-same
    // sign), and the two centroids take opposite clusters
    val signs = cents.map(c => c.map(math.signum(_)).distinct match {
      case Seq(s) => s
      case other => fail(s"mixed-sign centroid $other")
    })
    assert(signs.toSet == Set(1f, -1f), s"centroids did not separate: ${signs.toSeq}")
    // with a converged quantizer, probing ONE cell out of two returns
    // only in-cluster neighbors for every query — full recall at half
    // the scan, the entire point of IVF on clustered data
    val q = corpus.filter(col("vec_id").isin(0L, 1000L))
    val hits = Similarity.ivfTopK(corpus, q, k = 5, nCells = 2, nProbe = 1,
        trainIters = 3)
      .select("query_id", "vec_id").collect()
    assert(hits.length == 10)
    hits.foreach { r =>
      assert(r.getLong(0) / 1000L == r.getLong(1) / 1000L,
        s"1-probe search crossed clusters: $r")
    }
  }

  test("blocked cosine dedup equals naive all-pairs at any block count") {
    val blocked = Similarity.cosineDedupPairs(embs, threshold = 0.45)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // independent naive check via SQL cross join on the 500-row table
    embs.select(col("vec_id"), col("embedding")).createOrReplaceTempView("e_tmp")
    val naive = spark.sql(
      """SELECT a.vec_id id1, b.vec_id id2
         FROM e_tmp a JOIN e_tmp b ON a.vec_id < b.vec_id
         WHERE cosine_sim(a.embedding, b.embedding) >= 0.45""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == naive)
    // block count must not change the answer (coverage is exact for
    // any partitioning of the ids)
    for (nb <- Seq(3, 11)) {
      val alt = Similarity.cosineDedupPairs(embs, threshold = 0.45, numBlocks = nb)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(alt == naive, s"numBlocks=$nb diverged")
    }
  }

  test("LSH cosine dedup finds every exact-operator pair at near-dup thresholds") {
    // plant an exact twin per vector: sign bits agree in every band,
    // so twins are candidates with probability 1; exact verify then
    // makes the output equal the exact operator's on this corpus
    val e = embs.select(col("vec_id"), col("embedding"))
    val corpus = e.unionByName(
      e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    def pairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select("id1", "id2", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairs(Similarity.cosineDedupPairs(corpus, threshold = 0.9))
    val lsh = pairs(Similarity.cosineDedupPairsLsh(corpus, threshold = 0.9))
    assert(exact.size >= 500, s"expected >=500 planted twin pairs, got ${exact.size}")
    assert(lsh == exact, "LSH near-dup output diverged from the exact operator")
    // the vector clone-collapse gate is bit-identical to the
    // uncollapsed self-joins (scores compared as raw doubles)
    assert(pairs(Similarity.cosineDedupPairs(corpus, threshold = 0.9,
      collapseExact = false)) == exact, "exact-op collapse diverged")
    assert(pairs(Similarity.cosineDedupPairsLsh(corpus, threshold = 0.9,
      collapseExact = false)) == lsh, "LSH-op collapse diverged")
    // and the banding prunes: candidates scored must be far below all-pairs
    val n = corpus.count()
    val scored = Similarity.cosineDedupPairsLsh(corpus, threshold = -1.0).count()
    assert(scored < n * (n - 1) / 4,
      s"LSH scored $scored of ${n * (n - 1) / 2} pairs — not pruning")
  }

  test("cosine dedup auto-sizes blocks to bound per-block row width") {
    // formula: enough blocks that no collect_list row exceeds
    // MaxRowsPerBlock vectors (floor of 8 for small-corpus parallelism)
    assert(Similarity.autoBlocks(500) == 8)
    assert(Similarity.autoBlocks(8 * 4096) == 8)
    assert(Similarity.autoBlocks(100000) == 25)
    assert(Similarity.autoBlocks(10000000) == 2442)
    // and at 10M+ vectors the per-block expectation stays ~4096 rows,
    // far from Spark's single-row limits
    assert(10000000 / Similarity.autoBlocks(10000000) <= Similarity.MaxRowsPerBlock)
  }

  test("exact-clone collapse preserves pair output for jaccard/minhash/simhash") {
    // clone-heavy corpus: 3 copies of every doc (one with case/space
    // perturbations that normalize away), the regime where the
    // candidate joins blow up quadratically without the collapse gate
    val d = docs.select("doc_id", "text")
    val corpus = d
      .unionByName(d.select((col("doc_id") + 1000000).as("doc_id"),
        upper(col("text")).as("text")))
      .unionByName(d.select((col("doc_id") + 2000000).as("doc_id"),
        concat(lit("  "), col("text"), lit(" ")).as("text")))
    def pairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> r.get(2).toString.toDouble).toMap
    val jOn = pairs(Dedup.jaccardPairs(corpus, threshold = 0.4))
    val jOff = pairs(Dedup.jaccardPairs(corpus, threshold = 0.4, collapseExact = false))
    assert(jOn == jOff, "jaccard collapse diverged from the distinct path")
    // every within-clone-group pair present at similarity 1.0
    val base = d.agg(min("doc_id")).collect()(0).getLong(0)
    assert(jOn((base, base + 1000000)) == 1.0 &&
      jOn((base + 1000000, base + 2000000)) == 1.0)
    val mOn = pairs(Dedup.minhashPairs(corpus, threshold = 0.35))
    val mOff = pairs(Dedup.minhashPairs(corpus, threshold = 0.35, collapseExact = false))
    assert(mOn == mOff, "minhash collapse diverged from the distinct path")
    val sOn = pairs(Dedup.simhashPairs(corpus, maxDist = 3))
    val sOff = pairs(Dedup.simhashPairs(corpus, maxDist = 3, collapseExact = false))
    assert(sOn == sOff, "simhash collapse diverged from the distinct path")
  }

  test("winnowing fingerprints: shared-run guarantee, selection density, short docs") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val k = 3; val w = 4
    val shared = "one two three four five six seven" // 7 words >= w+k-1 = 6
    val corpus = Seq(
      1L -> s"aa bb cc $shared dd ee",
      2L -> s"xx yy $shared zz ww qq rr",
      3L -> "tiny doc",                 // shorter than one gram window
      4L -> "totally different words entirely here now")
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowingFingerprints(corpus, k, w)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the winnowing guarantee: a shared run of >= w+k-1 words shares
    // at least one selected fingerprint
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "shared 7-word run selected no common fingerprint")
    assert((byDoc(1L) & byDoc(4L)).isEmpty, "disjoint docs share a fingerprint")
    // selection really thins: fewer fingerprints than grams
    val grams1 = corpus.filter(col("doc_id") === 1L)
      .select(explode(split(lower(trim(col("text"))), " "))).count() - (k - 1)
    assert(byDoc(1L).size < grams1, s"no thinning: ${byDoc(1L).size} of $grams1")
    // a doc shorter than one window still yields exactly its minimum
    assert(byDoc(3L).size == 1)
  }

  test("winnowing xxhash64 knob matches an independent reference selection") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val k = 3; val w = 4
    // Spark's xxhash64 (seed 42) evaluated standalone, so the
    // reference selection below is computed OUTSIDE the operator
    def xx(s: String): Long =
      org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(s),
          org.apache.spark.sql.types.StringType)), 42L).eval(null).asInstanceOf[Long]
    def reference(text: String): Set[Long] = {
      val ts = text.trim.toLowerCase.split(" ").toSeq
      val grams =
        if (ts.length >= k) (0 to ts.length - k).map(j => ts.slice(j, j + k).mkString(" "))
        else Seq(ts.mkString(" "))
      val hs = grams.map(xx)
      (1 to math.max(hs.length - (w - 1), 1))
        .map(i => hs.slice(i - 1, math.min(i - 1 + w, hs.length)).min).toSet
    }
    val rnd = new scala.util.Random(31)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val shared = "one two three four five six seven"
    val docs = Seq(
      1L -> s"aa bb cc $shared dd ee",
      2L -> s"xx yy $shared zz ww qq rr",
      3L -> "tiny doc") ++
      (4L to 20L).map(i =>
        i -> Seq.fill(2 + rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val got = TextAnalysis.winnowingFingerprints(docs.toDF("doc_id", "text"),
        k, w, hash = "xxhash64")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    docs.foreach { case (i, text) =>
      assert(got(i) == reference(text), s"doc $i selection diverged")
    }
    // the shared-run guarantee is hash-agnostic
    assert((got(1L) & got(2L)).nonEmpty, "shared run selected no common fingerprint")
  }

  test("clone-collapse equivalence holds on randomized clone-group structures") {
    import spark.implicits._
    // irregular shapes the structured corpus above can't produce:
    // variable clone multiplicities (incl. singletons), short texts
    // from a tiny vocabulary so DISTINCT texts overlap heavily (real
    // mid-similarity pairs exercise the cross-group expansion, not
    // just the within-group selfExtras)
    def pairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> r.get(2).toString.toDouble).toMap
    Seq(11L, 23L, 57L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
        "zeta", "eta", "theta")
      val bases = (0 until 25).map(_ =>
        Seq.fill(4 + rnd.nextInt(7))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val rows = bases.zipWithIndex.flatMap { case (t, i) =>
        (0 until (1 + rnd.nextInt(4))).map(c => (i * 100L + c, t))
      }
      val corpus = rows.toDF("doc_id", "text")
      val jOn = pairs(Dedup.jaccardPairs(corpus, 0.5, n = 2))
      val jOff = pairs(Dedup.jaccardPairs(corpus, 0.5, n = 2, collapseExact = false))
      assert(jOn == jOff, s"jaccard collapse diverged at seed $seed")
      val vOn = pairs(Dedup.minhashPairsVerified(corpus, 0.5, n = 2))
      val vOff = pairs(Dedup.minhashPairsVerified(corpus, 0.5, n = 2,
        collapseExact = false))
      assert(vOn == vOff, s"verified minhash collapse diverged at seed $seed")
      val sOn = pairs(Dedup.simhashPairs(corpus, maxDist = 3))
      val sOff = pairs(Dedup.simhashPairs(corpus, maxDist = 3, collapseExact = false))
      assert(sOn == sOff, s"simhash collapse diverged at seed $seed")
    }
  }

  test("minhash estimate stays in codegen (no interpreted higher-order lambdas)") {
    val plan = Dedup.minhashPairs(docs, threshold = 0.35)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("zip_with") && !plan.toLowerCase.contains("lambdafunction"),
      "estimate projection should be scalar element_at folds, not lambda HOFs")
  }

  test("trained semantic dedup equals brute-force pairs on separated clusters") {
    import spark.implicits._
    // same two-tight-clusters construction as the trained-IVF check:
    // cross-cluster cosine is ≈ −1 (far below any threshold), so a
    // converged quantizer loses NO pairs to cell boundaries and
    // SemDeDup's within-cell output must equal global all-pairs
    val dim = 8
    def member(cluster: Int, i: Int): (Long, Seq[Float]) = {
      val sign = if (cluster == 0) 1f else -1f
      val v = (0 until dim).map(d => sign * (1f + 0.01f * ((i + d) % 5)))
      (cluster * 1000L + i, v)
    }
    val corpus = (0 until 30).flatMap(i => Seq(member(0, i), member(1, i)))
      .toDF("vec_id", "embedding")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = pairSet(Similarity.semanticDedupPairs(corpus, threshold = 0.9,
      nCells = 2, trainIters = 3))
    val brute = pairSet(Similarity.cosineDedupPairs(corpus, threshold = 0.9))
    assert(sem == brute,
      s"semantic missing ${brute -- sem take 5}, extra ${sem -- brute take 5}")
    assert(brute.nonEmpty && brute.forall { case (a, b) => a / 1000L == b / 1000L })
    // per-cell sub-blocking engages without changing the output
    val blocked = pairSet(Similarity.semanticDedupPairs(corpus, threshold = 0.9,
      nCells = 2, trainIters = 3, blocksPerCell = 3))
    assert(blocked == brute, "blocksPerCell changed the pair output")
    // clone-collapse gate is output-preserving on a twin-heavy corpus
    val twins = corpus.unionByName(
      corpus.select((col("vec_id") + 500).as("vec_id"), col("embedding")))
    val gOn = pairSet(Similarity.semanticDedupPairs(twins, threshold = 0.9,
      nCells = 2, trainIters = 3))
    val gOff = pairSet(Similarity.semanticDedupPairs(twins, threshold = 0.9,
      nCells = 2, trainIters = 3, collapseExact = false))
    assert(gOn == gOff, s"semantic collapse diverged: ${(gOn diff gOff).take(5)} / ${(gOff diff gOn).take(5)}")
  }

  // ---- connected components (Cluster) ---------------------------------

  /** Reference union-find over an edge list, label = component min. */
  private def unionFind(n: Seq[Long], e: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]() ++ n.map(v => v -> v)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    e.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    n.map(v => v -> find(v)).toMap
  }

  private def ccAssign(verts: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val pairs =
      if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("id1", "id2")
      else edges.toDF("id1", "id2")
    graft.ops.Cluster.assignments(pairs, verts.toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connected components match union-find on random graphs, paths and cliques") {
    // random sparse graphs at three seeds
    Seq(1L, 42L, 99L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val verts = (0L until 200L).toSeq
      val edges = Seq.fill(150)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
        .filter { case (a, b) => a != b }
      assert(ccAssign(verts, edges) == unionFind(verts, edges),
        s"random graph mismatch at seed $seed")
    }
    // regression: an intermediate state where sources and targets are
    // DISJOINT but a node still points at two different roots
    // ({(3,1),(3,2)} after round 1) — a source/target-disjointness
    // probe alone declares this converged and splits the component;
    // the out-degree check must keep iterating
    val bridge = Seq((5L, 3L), (5L, 1L), (6L, 3L), (6L, 2L))
    val ba = ccAssign((1L to 6L).toSeq, bridge)
    assert(Seq(1L, 2L, 3L, 5L, 6L).forall(ba(_) == 1L),
      s"bridged component must collapse to min 1, got $ba")
    // a 60-node path: worst-case diameter for propagation algorithms —
    // star-contraction must still converge inside the iteration cap
    val path = (0L until 60L).toSeq
    val pathEdges = path.sliding(2).map(s => (s(1), s.head)).toSeq
    val pa = ccAssign(path, pathEdges)
    assert(pa.values.toSet == Set(0L), s"path collapsed to $pa")
    // two cliques + isolated vertices
    val verts = (0L until 20L).toSeq
    val cliques = (for (a <- 0 until 5; b <- a + 1 until 5) yield (a.toLong, b.toLong)) ++
      (for (a <- 10 until 14; b <- a + 1 until 14) yield (a.toLong, b.toLong))
    val ca = ccAssign(verts, cliques)
    assert((0L until 5L).forall(ca(_) == 0L) && (10L until 14L).forall(ca(_) == 10L))
    assert((5L until 10L).forall(v => ca(v) == v) && (14L until 20L).forall(v => ca(v) == v),
      "isolated vertices must be singleton clusters")
  }

  test("null-text docs never pair and cluster as singletons (SQL NULL-join parity)") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "shared words here exactly matching text"),
      (2L, "shared words here exactly matching text"),
      (3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // pair families: the exact-clone pair (1,2) and NOTHING involving
    // the null docs — a SQL oracle's NULL join keys can never match,
    // so Spark must not pair them either
    val jp = Dedup.jaccardPairs(corpus, threshold = 0.4, n = 3)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jp == Set((1L, 2L)), s"jaccard paired null docs: $jp")
    val mh = Dedup.minhashPairsVerified(corpus, threshold = 0.4)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == Set((1L, 2L)), s"minhash paired null docs: $mh")
    val delta = Dedup.minhashDeltaPairsVerified(
        corpus.filter(col("doc_id") >= 3), corpus.filter(col("doc_id") < 3),
        threshold = 0.4)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(delta.isEmpty, s"delta paired null docs: $delta")
    // clustering: null docs are SINGLETONS (not glued through their
    // shared null content hash), and they survive dedup untouched
    val labels = graft.ops.Cluster.fromJaccard(corpus, threshold = 0.4, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L), s"$labels")
    val kept = graft.ops.Cluster.dedupedCorpus(corpus, threshold = 0.4, n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L), s"$kept")
    // decontamination: a null-text train doc must not register hits
    // (its Spark-side [""] shingle would otherwise meet a null/empty
    // eval text), and a null-text eval doc must not contaminate
    val evalNull = Seq((100L, null.asInstanceOf[String]),
      (101L, "shared words here")).toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(corpus, evalNull, n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rep == Set(1L, 2L), s"contamination touched null docs: $rep")
    val cp = Dedup.contaminationPairs(corpus, evalNull, n = 3, minOverlap = 1L)
      .select("doc_id", "eval_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cp == Set((1L, 101L), (2L, 101L)), s"pairs touched null docs: $cp")
  }

  test("withPinnedCaches releases operator-held persists after a scoped run") {
    spark.sharedState.cacheManager.clearCache()
    val out = graft.ops.CacheScope.withPinnedCaches {
      // two leaky-by-contract operators: the packing rank relation and
      // the jaccard clone-group relation both persist intermediates
      // their returned frames reference
      val chunks = graft.ops.Packing.chunks(docs, budget = 128).collect()
      val pairs = Dedup.jaccardPairs(docs, threshold = 0.4, n = 3).collect()
      // the scope must actually have something registered, or the
      // outer emptiness assert is vacuous
      assert(!spark.sharedState.cacheManager.isEmpty,
        "expected operator intermediates cached inside the scope")
      (chunks, pairs)
    }
    assert(out._1.nonEmpty)
    assert(spark.sharedState.cacheManager.isEmpty,
      "operator-held caches leaked past withPinnedCaches")
    // outside any scope the previous contract stands: plain persist,
    // Bench/ContextCleaner own the lifetime
    val again = Dedup.jaccardPairs(docs, threshold = 0.4, n = 3).collect()
    assert(again.length == out._2.length)
    spark.sharedState.cacheManager.clearCache()
  }

  test("reliable-checkpoint knob yields identical labels (cluster durability path)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val verts = (0L until 120L).toSeq
    val edges = Seq.fill(90)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val reliable = graft.ops.Cluster.assignments(
        edges.toDF("id1", "id2"), verts.toDF("doc_id"),
        checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == unionFind(verts, edges))
    // the checkpoint files actually landed under the requested root
    // (replicated-storage durability is what the knob buys a cluster)
    assert(java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).count() > 1,
      "no reliable checkpoint data written")
  }

  test("rep-level clustering equals clustering the expanded pair set under clones") {
    import spark.implicits._
    val d = docs.select(col("doc_id"), col("text"))
    // every doc gains an exact twin (and the twin a twin), the
    // clone-heavy regime the representative path optimizes for
    val corpus = d
      .unionByName(d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .unionByName(d.select((col("doc_id") + 200000).as("doc_id"), col("text")))
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = toMap(graft.ops.Cluster.fromJaccard(corpus, threshold = 0.4, n = 3))
    val slow = toMap(graft.ops.Cluster.assignments(
      Dedup.jaccardPairs(corpus, threshold = 0.4, n = 3), corpus))
    assert(fast == slow, {
      val diff = (fast.toSet diff slow.toSet).take(5)
      s"representative CC diverged from expanded CC: $diff"
    })
  }

  test("end-to-end dup clustering glues transitive near-dup pairs") {
    import spark.implicits._
    // A≈B and B≈C by construction, A vs C well below threshold, D far off
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight and more"),
      (3L, "fox jumps over the lazy dog tonight and more words here"),
      (4L, "completely different content about spark catalyst planning")
    ).toDF("doc_id", "text")
    val a = graft.ops.Cluster.fromJaccard(corpus, threshold = 0.3, n = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a(1L) == 1L && a(2L) == 1L && a(3L) == 1L, s"transitive cluster broke: $a")
    assert(a(4L) == 4L)
  }

  test("repetition signals flag looped text and keep normal prose") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val d = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "ab cd ab cd ab cd ab cd ab cd"),
      (4L, "single")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.withRepetitionSignals(d).collect()
      .map(x => x.getLong(0) ->
        (x.getAs[Double]("dup_bigram_frac"), x.getAs[Double]("dup_trigram_frac"),
         x.getAs[Double]("top_word_ratio"), x.getAs[Boolean]("gopher_keep"))).toMap
    assert(r(1L) == ((0.888889, 0.875, 1.0, false)), s"loop doc: ${r(1L)}")
    assert(r(2L) == ((0.0, 0.0, 0.1, true)), s"prose doc: ${r(2L)}")
    assert(r(3L) == ((0.777778, 0.75, 0.5, false)), s"cycle doc: ${r(3L)}")
    assert(r(4L) == ((0.0, 0.0, 1.0, false)), s"one-token doc: ${r(4L)}")
  }

  // ---- sequence packing (Packing) -------------------------------------

  test("packing manifest covers the token stream exactly, independent of shard count") {
    import spark.implicits._
    val budget = 64
    // incl. a far-outlier id: rank-based shards must stay balanced and
    // the global order (outlier last) must hold
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(
      docs.limit(1).select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")))
    Seq(1, 7, 1024).foreach { shards =>
      val m = graft.ops.Packing.manifest(corpus, budget, numShards = shards)
        .orderBy("doc_id").collect()
      // offsets are the id-ordered prefix sums: contiguous, no gaps
      var expect = 0L
      m.foreach { r =>
        assert(r.getLong(2) == expect,
          s"doc ${r.getLong(0)} start_offset ${r.getLong(2)} != $expect (shards=$shards)")
        expect += r.getLong(1)
        assert(r.getLong(3) == r.getLong(2) / budget)
        assert(r.getLong(4) == (r.getLong(2) + r.getLong(1) - 1) / budget)
      }
      assert(m.last.getLong(0) >= 1000000000000L, "outlier id must pack last")
    }
  }

  test("chunk fetch lists reassemble every document with no overlap or loss") {
    import spark.implicits._
    val budget = 64
    val m = graft.ops.Packing.manifest(docs, budget).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ch = graft.ops.Packing.chunks(docs, budget)
      .orderBy("doc_id", "chunk_id").collect()
    // per doc: slices tile [0, n_tokens) in chunk order
    ch.groupBy(_.getLong(1)).foreach { case (doc, rows) =>
      var pos = 0L
      rows.sortBy(_.getLong(0)).foreach { r =>
        assert(r.getLong(2) == pos, s"doc $doc slice starts at ${r.getLong(2)}, want $pos")
        pos = r.getLong(3)
      }
      assert(pos == m(doc), s"doc $doc slices end at $pos of ${m(doc)} tokens")
    }
    // per chunk: slice lengths sum to exactly the budget (except the tail)
    val perChunk = ch.groupBy(_.getLong(0)).view
      .mapValues(_.map(r => r.getLong(3) - r.getLong(2)).sum).toMap
    val lastChunk = perChunk.keys.max
    perChunk.foreach { case (c, tot) =>
      if (c != lastChunk) assert(tot == budget, s"chunk $c holds $tot tokens")
      else assert(tot > 0 && tot <= budget)
    }
  }

  // ---- weighted sampling (Sampling) -----------------------------------

  test("token-budget sampling hits the requested per-domain yield, drops unbudgeted") {
    import spark.implicits._
    val corpus = (0L until 8000L).map(i => (i, s"src${i % 4}", 50L + (i % 7)))
      .toDF("doc_id", "source", "n_tokens")
    val budgets = Map("src0" -> 1000000L, "src1" -> 50000L, "src2" -> 10000L)
    val yields = graft.ops.Sampling.toTokenBudget(corpus, budgets)
      .groupBy("source").agg(sum("n_tokens").as("y"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val perSrcTotal = 2000L * 53  // 2000 docs averaging 53 tokens
    assert(yields("src0") == corpus.filter(col("source") === "src0")
      .agg(sum("n_tokens")).head().getLong(0), "over-budget domain keeps everything")
    assert(math.abs(yields("src1") - 50000L) < perSrcTotal * 0.08,
      s"src1 yield ${yields("src1")} vs budget 50000")
    assert(math.abs(yields("src2") - 10000L) < perSrcTotal * 0.08,
      s"src2 yield ${yields("src2")} vs budget 10000")
    assert(!yields.contains("src3"), "unbudgeted domain must be dropped")
  }

  test("weighted sampling is deterministic, rate-accurate and seed-disjoint") {
    import spark.implicits._
    val corpus = (0L until 4000L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.1, "src3" -> 0.0)
    def ids(seed: String) =
      graft.ops.Sampling.weighted(corpus, rates, defaultRate = 0.0, seed = seed,
          domain = "source")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val s1 = ids("graft")
    assert(s1 == ids("graft"), "same seed must reproduce the exact sample")
    val bySrc = s1.groupBy(_._1).view.mapValues(_.size.toDouble / 1000).toMap
    assert(bySrc("src0") == 1.0, "rate 1.0 keeps everything")
    assert(!bySrc.contains("src3"), "rate 0.0 keeps nothing")
    assert(math.abs(bySrc("src1") - 0.5) < 0.05 && math.abs(bySrc("src2") - 0.1) < 0.03,
      s"sample rates off: $bySrc")
    // another seed re-rolls membership but holds the rates
    val s2 = ids("epoch2")
    assert(s2 != s1, "different seeds must draw different samples")
    val overlap = s1.intersect(s2).count(_._1 == "src1").toDouble / 1000
    assert(math.abs(overlap - 0.25) < 0.05,
      s"seed-disjoint samples should intersect at r² ≈ 0.25, got $overlap")
  }

  test("delta minhash equals the full operator restricted to batch-touching pairs") {
    val d = docs.select(col("doc_id"), col("text"))
    // exact twins keep parity (within-side clones); appended twins flip
    // parity (guaranteed cross-boundary near-dups at j ≈ 0.99)
    val corpus = d
      .unionByName(d.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" ")).as("text")))
      .unionByName(d.select((col("doc_id") + 2000001).as("doc_id"),
        concat(col("text"), lit(" zzz")).as("text")))
    val batch = corpus.filter(col("doc_id") % 2 === 0)
    val old = corpus.filter(col("doc_id") % 2 =!= 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = pairs(Dedup.minhashPairsVerified(corpus, threshold = 0.9))
    val expected = full.filter(p => p._1 % 2 == 0 || p._2 % 2 == 0)
    val cross = expected.filter(p => p._1 % 2 != p._2 % 2)
    assert(cross.nonEmpty, "construction must produce cross-boundary pairs")
    val delta = pairs(Dedup.minhashDeltaPairsVerified(batch, old, threshold = 0.9))
    assert(delta == expected,
      s"delta missed ${expected -- delta}, extra ${delta -- expected}")
    val viaIdx = pairs(Dedup.minhashDeltaPairsVerified(batch, old, threshold = 0.9,
      oldIndex = Some(Dedup.minhashBandIndex(old))))
    assert(viaIdx == expected, "precomputed-index path must be identical")
    // a clone-free corpus takes the direct (non-collapsed) cross path —
    // same restricted-equality contract
    val batch0 = d.filter(col("doc_id") % 2 === 0)
    val old0 = d.filter(col("doc_id") % 2 =!= 0)
    val exp0 = pairs(Dedup.minhashPairsVerified(d, threshold = 0.9))
      .filter(p => p._1 % 2 == 0 || p._2 % 2 == 0)
    val delta0 = pairs(Dedup.minhashDeltaPairsVerified(batch0, old0, threshold = 0.9))
    assert(delta0 == exp0,
      s"direct path missed ${exp0 -- delta0}, extra ${delta0 -- exp0}")
  }

  test("heavy ngrams count documents, not occurrences, and rank boilerplate first") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "x y z alpha beta gamma p q"),
      (2L, "alpha beta gamma alpha beta gamma"), // repeats internally → 1
      (3L, "alpha beta gamma r s t"),
      (4L, "unrelated words only here today"),
      (5L, "hi")                                 // short doc → whole-text gram
    ).toDF("doc_id", "text")
    val top = graft.ops.TextAnalysis.heavyNgrams(corpus, n = 3, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.head == ("alpha beta gamma", 3L),
      s"boilerplate gram must rank first by DOCUMENT frequency, got ${top.head}")
    assert(top(1)._2 == 1L && top(2)._2 == 1L && top(1)._1 < top(2)._1,
      s"doc-freq ties must break lexicographically, got ${top.toSeq}")
    val all = graft.ops.TextAnalysis.heavyNgrams(corpus, n = 3, k = 100)
      .collect().map(_.getString(0))
    assert(all.contains("hi"), "short docs contribute their whole text as one gram")
  }

  test("cell-capped sampling bounds dense cells, keeps sparse ones, reproduces") {
    import spark.implicits._
    // 20 vectors in sign-cell 11 (+,+,−,+ → 1+2+8), 3 in cell 0 (all −)
    val dense = (0L until 20L).map(i => (i, Array(1f, 1f, -1f, 0.5f)))
    val sparse = (100L until 103L).map(i => (i, Array(-1f, -1f, -1f, -1f)))
    val df = (dense ++ sparse).toDF("vec_id", "embedding")
    def run() = graft.ops.Sampling.cellCapped(df, bits = 4, cap = 5)
      .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val kept = run()
    val byCell = kept.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byCell == Map(11L -> 5, 0L -> 3),
      s"dense cell capped at 5, sparse kept whole; got $byCell")
    assert(kept == run(), "md5 priority must reproduce the identical sample")
    // dimension exactly 0 counts as non-negative (>= 0 sets the bit)
    val zero = Seq((7L, Array(0f, -1f, -1f, -1f))).toDF("vec_id", "embedding")
    assert(graft.ops.Sampling.cellCapped(zero, bits = 4, cap = 1)
      .select("cell").head().getLong(0) == 1L)
  }

  test("mmr rerank demotes the near-duplicate hit in favor of the diverse one") {
    import spark.implicits._
    val rows = Seq(
      (100L, Seq(1f, 0f, 0f, 0f)),     // query
      (1L, Seq(0.99f, 0.1f, 0f, 0f)),  // A: top relevance
      (2L, Seq(0.98f, 0.12f, 0f, 0f)), // A': near-duplicate of A
      (3L, Seq(0.6f, 0f, 0.8f, 0f))    // B: diverse, lower relevance
    ).toDF("vec_id", "embedding")
    val plain = Similarity.bruteForceTopK(rows, rows.filter(col("vec_id") === 100L), k = 2)
      .orderBy(col("score").desc).collect().map(_.getLong(1)).toSeq
    assert(plain == Seq(1L, 2L), s"plain top-2 must be the near-dup pair, got $plain")
    val cands = Similarity.bruteForceTopK(rows, rows.filter(col("vec_id") === 100L), k = 3)
      .join(rows.select(col("vec_id"), col("embedding")), "vec_id")
    val mmr = Similarity.mmrRerank(cands, k = 2, lambda = 0.5)
      .orderBy("mmr_rank").collect()
    assert(mmr.map(_.getAs[Long]("vec_id")).toSeq == Seq(1L, 3L),
      s"mmr must pick diverse B second, got ${mmr.toSeq}")
    assert(mmr.map(_.getAs[Int]("mmr_rank")).toSeq == Seq(1, 2))
    // λ = 1 degenerates to plain relevance ranking
    val rel = Similarity.mmrRerank(cands, k = 3, lambda = 1.0)
      .orderBy("mmr_rank").collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(rel == Seq(1L, 2L, 3L), s"lambda=1 must reproduce relevance order, got $rel")
  }

  test("mean-pooling averages chunk embeddings element-wise per group") {
    import spark.implicits._
    val chunks = Seq(
      (0L, Array(1f, 3f)), (0L, Array(3f, 5f)), // doc 0: mean [2, 4]
      (1L, Array(7f, 9f))                        // doc 1: identity
    ).toDF("group_id", "embedding")
    val pooled = Similarity.meanPoolEmbeddings(chunks, "group_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap
    assert(pooled == Map(
      (0L, 0L) -> ((2.0, 2L)), (0L, 1L) -> ((4.0, 2L)),
      (1L, 0L) -> ((7.0, 1L)), (1L, 1L) -> ((9.0, 1L))), s"$pooled")
  }

  test("hard negatives exclude the query's near-dup cluster TRANSITIVELY") {
    import spark.implicits._
    def ray(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat, 0f, 0f)
    }
    // chain A(0°)–B(15°)–C(30°) at cos 0.966 per link but
    // cos(A,C) = 0.866 < τ = 0.9; D(60°) and E(90°) are clean
    // (every other pair is ≤ 0.866)
    val vecs = Seq(1L -> ray(0), 2L -> ray(15), 3L -> ray(30),
      4L -> ray(60), 5L -> ray(90)).toDF("vec_id", "embedding")
    val neg = Similarity.hardNegatives(vecs, vecs.filter(col("vec_id") === 1L),
        k = 2, tau = 0.9, dim = 4)
      .orderBy("neg_rank").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    // C scores 0.866 against A — higher than D's 0.5 — but is excluded
    // through the A–B–C chain, not by its direct similarity to A
    assert(neg == Seq((1L, 4L), (2L, 5L)),
      s"expected D then E (B and C cluster-excluded), got $neg")
    // a query in no cluster excludes only itself
    val solo = Similarity.hardNegatives(vecs, vecs.filter(col("vec_id") === 4L),
        k = 2, tau = 0.9, dim = 4)
      .collect().map(_.getLong(2)).toSet
    assert(solo == Set(3L, 5L), s"D's top-2 are its 30°-away flanks, got $solo")
    // triplets: A's positive is its smallest cluster-mate B (the
    // transitive mate C loses the min), negatives = the same D-then-E
    // ranking; the singleton query D has no positive and emits nothing
    val trip = Similarity.contrastiveTriplets(vecs,
        vecs.filter(col("vec_id").isin(1L, 4L)), k = 2, tau = 0.9, dim = 4)
      .orderBy("neg_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(trip.toSeq == Seq((1L, 2L, 1L, 4L), (1L, 2L, 2L, 5L)),
      s"expected A's (positive B, negatives D,E) and nothing for D, got ${trip.toSeq}")
  }

  test("quality classifier separates dialects, improves with iterations, collapses exactly") {
    import spark.implicits._
    val avocab = (0 until 20).map(i => s"alpha$i")
    val bvocab = (0 until 20).map(i => s"beta$i")
    val rnd = new scala.util.Random(11)
    def sent(v: IndexedSeq[String]) = Seq.fill(25)(v(rnd.nextInt(v.size))).mkString(" ")
    val pos = (0L until 30L).map(i => (i, sent(avocab))).toDF("doc_id", "text")
    val neg = (100L until 130L).map(i => (i, sent(bvocab))).toDF("doc_id", "text")
    val all = pos.unionByName(neg)
    def train(p: org.apache.spark.sql.DataFrame, n: org.apache.spark.sql.DataFrame,
              iters: Int, collapse: Boolean = true) =
      graft.ops.Classifier.trainQuality(p, n, buckets = 1024, iters = iters,
        collapseExact = collapse)
    val m3 = train(pos, neg, 3)
    val s3 = graft.ops.Classifier.scoreQuality(all, m3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val aMin = (0L until 30L).map(s3).min
    val bMax = (100L until 130L).map(s3).max
    assert(aMin > 0.5 && bMax < 0.5 && aMin > bMax,
      s"classifier must separate the dialects: aMin=$aMin bMax=$bMax")
    def logLoss(m: graft.ops.Classifier.Model): Double = {
      val sc = graft.ops.Classifier.scoreQuality(all, m)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      (((0L until 30L).map(i => -math.log(sc(i) + 1e-12)) ++
        (100L until 130L).map(i => -math.log(1 - sc(i) + 1e-12))).sum) / 60
    }
    assert(logLoss(m3) < logLoss(train(pos, neg, 1)),
      "more GD iterations must reduce training log-loss")
    // same data, same plan → same model (aggregation-order float
    // noise bounded well under the oracle's rounding)
    val m3b = train(pos, neg, 3)
    assert(math.abs(m3b.bias - m3.bias) < 1e-12)
    m3b.weights.zip(m3.weights).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12) }
    // weighted collapse == direct on a clone-tripled corpus
    def clone3(df: org.apache.spark.sql.DataFrame) = (0 until 3).map(i =>
      df.select((col("doc_id") + i * 10000).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
    val mc = train(clone3(pos), clone3(neg), 3)
    val md = train(clone3(pos), clone3(neg), 3, collapse = false)
    assert(math.abs(mc.bias - md.bias) < 1e-9)
    mc.weights.zip(md.weights).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"collapsed weight diverged: $a vs $b") }
    // ...and cloning every doc equally leaves the MEAN-gradient model
    // unchanged (the multiplicities cancel against N)
    assert(math.abs(mc.bias - m3.bias) < 1e-9)
    mc.weights.zip(m3.weights).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9) }
  }

  test("dsir and heavy-ngram weighted collapse equal the direct path on clones") {
    val d = docs.select(col("doc_id"), col("text"))
    val corpus = (0 until 3).map(i =>
        d.select((col("doc_id") + i * 1000000).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
    val target = d.filter(col("doc_id") % 7 === 0)
    def dsir(collapse: Boolean) = graft.ops.Sampling
      .dsirScores(corpus, target, buckets = 256, collapseExact = collapse)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val direct = dsir(false)
    val collapsed = dsir(true)
    assert(collapsed.keySet == direct.keySet)
    collapsed.foreach { case (idv, (nf, lw)) =>
      assert(nf == direct(idv)._1, s"n_features diverged for $idv")
      assert(math.abs(lw - direct(idv)._2) < 1e-9,
        s"logw diverged for $idv: $lw vs ${direct(idv)._2}")
    }
    def heavy(collapse: Boolean) = graft.ops.TextAnalysis
      .heavyNgrams(corpus, n = 3, k = 25, collapseExact = collapse)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(heavy(true) == heavy(false),
      "weighted doc_freq must equal count_distinct exactly, same tie order")
  }

  test("dsir ranks target-dialect docs above off-target and samples them") {
    import spark.implicits._
    val avocab = (0 until 20).map(i => s"alpha$i")
    val bvocab = (0 until 20).map(i => s"beta$i")
    val rnd = new scala.util.Random(7)
    def sent(v: IndexedSeq[String]) = Seq.fill(30)(v(rnd.nextInt(v.size))).mkString(" ")
    val aDocs = (0L until 40L).map(i => (i, sent(avocab)))
    val bDocs = (100L until 140L).map(i => (i, sent(bvocab)))
    val raw = (aDocs ++ bDocs).toDF("doc_id", "text")
    val target = (1000L until 1020L).map(i => (i, sent(avocab))).toDF("doc_id", "text")
    val scores = graft.ops.Sampling.dsirScores(raw, target, buckets = 256)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores.size == 80, "one score per raw doc")
    val aMin = aDocs.map(d => scores(d._1)).min
    val bMax = bDocs.map(d => scores(d._1)).max
    assert(aMin > bMax,
      s"every target-dialect doc must outscore every off-target doc ($aMin vs $bMax)")
    def sel(seed: String) = graft.ops.Sampling
      .dsirSample(raw, target, k = 30, buckets = 256, seed = seed)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s1 = sel("graft")
    assert(s1.size == 30 && s1.count(_ < 100L) >= 28,
      s"Gumbel top-k must draw (almost) only target-like docs, got $s1")
    assert(s1 == sel("graft"), "same seed must reproduce the identical sample")
  }

  /** The q_knn_pq_exact construction — shared with the entries via
    * [[Similarity.plantedPqCorpus]] (one definition, zero drift).
    */
  private def plantedPqCorpus: (org.apache.spark.sql.DataFrame, Array[Array[Array[Float]]]) =
    Similarity.plantedPqCorpus(embs)

  /** Exhaustive dot-product top-k pairs over `corpus` for queries
    * (vec_id < 5), the reference ranking for the lossless-PQ checks.
    */
  private def bruteDotTop(corpus: org.apache.spark.sql.DataFrame, k: Int): Seq[(Long, Long)] = {
    val q = corpus.filter(col("vec_id") < 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("s").desc, col("vec_id").asc)
    corpus
      .crossJoin(broadcast(q.select(col("vec_id").as("query_id"),
        col("embedding").as("qe"))))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("s", org.apache.spark.sql.graft.VectorFunctions
        .dotF(col("embedding"), col("qe")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .orderBy("query_id", "vec_id").select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("pq on a planted-codeword corpus equals exhaustive dot top-k") {
    val (planted, cb) = plantedPqCorpus
    val q = planted.filter(col("vec_id") < 5)
    val pq = Similarity.pqTopK(planted, q, k = 10, m = 8, ksub = 16,
        codebooks = Some(cb))
      .orderBy("query_id", "vec_id").select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val brute = bruteDotTop(planted, 10)
    assert(pq.nonEmpty && pq == brute,
      s"lossless PQ diverged from exhaustive dot top-k")
  }

  test("pqRerankTopK on the planted corpus equals exhaustive dot top-k") {
    // lossless codebook => ADC == dot, so the 50-candidate tier
    // provably contains the true top-10 and the exact-dot re-rank is
    // row-identical to the exhaustive operator — the handoff
    // (candidate cut -> raw-vector rejoin -> re-rank) is what's pinned
    val (planted, cb) = plantedPqCorpus
    val q = planted.filter(col("vec_id") < 5)
    val out = Similarity.pqRerankTopK(planted, q, k = 10, kCand = 50,
        m = 8, ksub = 16, codebooks = Some(cb))
      .orderBy("query_id", "vec_id").select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out.nonEmpty && out == bruteDotTop(planted, 10),
      "PQ+rerank composite diverged from exhaustive dot top-k")
    // kCand < k refused
    intercept[IllegalArgumentException] {
      Similarity.pqRerankTopK(planted, q, k = 10, kCand = 5)
    }
  }

  test("ivf-pq full probe on the planted corpus equals exhaustive dot top-k") {
    // raw (non-residual) encoding is lossless on the planted corpus
    // and full probing scores every candidate once whatever the
    // quantizer — assignment, probe routing, per-cell join and ADC all
    // sit under the exhaustive reference
    val (planted, cb) = plantedPqCorpus
    val q = planted.filter(col("vec_id") < 5)
    val out = Similarity.ivfPqTopK(planted, q, k = 10, nCells = 8, nProbe = 8,
        m = 8, ksub = 16, residual = false, codebooks = Some(cb))
      .orderBy("query_id", "vec_id").select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out.nonEmpty && out == bruteDotTop(planted, 10),
      "full-probe ivf-pq diverged from exhaustive dot top-k")
  }

  test("ivf-pq residual scoring equals exact dot on a lattice-planted clustered corpus") {
    import spark.implicits._
    // Two clusters at ±8·1⃗ with residuals drawn from a dyadic 1/16
    // lattice in [-1, 1]: 8 is a power of two and lattice values have
    // tiny mantissas, so (±8 + x) - (±8) == x EXACTLY in float — the
    // residual a member carries is bit-identical to its codeword, the
    // encoding is lossless, and dot(q, c) + ADC must equal the exact
    // dot(q, v) up to summation-order noise.
    val m = 2; val ksub = 8; val dsub = 4; val dim = m * dsub
    val rnd = new scala.util.Random(23)
    val cb: Array[Array[Array[Float]]] =
      Array.fill(m, ksub, dsub)((rnd.nextInt(33) - 16) / 16.0f)
    val cents: Array[Seq[Float]] =
      Array(Seq.fill(dim)(8.0f), Seq.fill(dim)(-8.0f))
    val rows = (0 until 24).map { i =>
      val cluster = i % 2
      val codes = Array.tabulate(m)(j => (i * 7 + j * 3) % ksub)
      val v = (0 until dim).map { t =>
        cents(cluster)(t) + cb(t / dsub)(codes(t / dsub))(t % dsub)
      }
      (i.toLong, v)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    // k covers the whole corpus: every pair's score is checked, no
    // rank-boundary sensitivity to lattice ties
    val scored = Similarity.ivfPqTopK(corpus, corpus.filter(col("vec_id") < 5),
        k = 30, nCells = 2, nProbe = 2, m = m, ksub = ksub,
        residual = true, centroids = Some(cents), codebooks = Some(cb))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(scored.size == 5 * 23, s"expected all pairs, got ${scored.size}")
    val byId = rows.toMap
    scored.foreach { case ((qid, cid), s) =>
      val exact = byId(qid).zip(byId(cid))
        .map { case (a, b) => a.toDouble * b.toDouble }.sum
      assert(math.abs(s - exact) < 1e-9,
        s"pair ($qid,$cid): ivf-pq residual score $s != exact dot $exact")
    }
  }

  test("pq training reduces quantization error and holds useful recall") {
    val q = embs.filter(col("vec_id") < 5)
    // reconstruction MSE of the whole corpus under sampled vs trained
    // codebooks — Lloyd iterations must not increase it
    def mse(cb: Array[Array[Array[Float]]]): Double = {
      val m = cb.length; val dsub = cb.head.head.length
      val rows = embs.select(col("embedding"),
        org.apache.spark.sql.graft.VectorFunctions
          .pqEncode(col("embedding"), cb, bytes = false).as("code"))
        .collect()
      val errs = rows.map { r =>
        val v = r.getSeq[Float](0); val code = r.getSeq[Int](1)
        (0 until m).map { j =>
          val cw = cb(j)(code(j))
          (0 until dsub).map { t =>
            val d = v(j * dsub + t).toDouble - cw(t).toDouble; d * d }.sum
        }.sum
      }
      errs.sum / errs.length
    }
    val sampled = Similarity.sampledPqCodebooks(embs, m = 8, ksub = 16)
    val trained = Similarity.trainedPqCodebooks(embs, m = 8, ksub = 16, iters = 2)
    val (m0, m2) = (mse(sampled), mse(trained))
    assert(m2 <= m0 * 1.0001, s"training increased reconstruction MSE: $m0 -> $m2")
    assert(m2 < m0, s"two Lloyd iterations should strictly shrink MSE on this corpus")
    // trained-PQ ANN keeps useful recall vs brute cosine on the raw
    // corpus (isotropic worst case; scores are dots on raw vectors, so
    // compare against dot-ranked exhaustive top-k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("s").desc, col("vec_id").asc)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(embs
      .crossJoin(broadcast(q.select(col("vec_id").as("query_id"),
        col("embedding").as("qe"))))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("s", org.apache.spark.sql.graft.VectorFunctions
        .dotF(col("embedding"), col("qe")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .select(col("query_id"), col("vec_id")))
    val pq = pairs(Similarity.pqTopK(embs, q, k = 20, m = 8, ksub = 16,
      codebooks = Some(trained)))
    val recall = (brute & pq).size.toDouble / brute.size
    // 8 subspaces × 16 codewords on 64-d isotropic gaussians is a
    // coarse quantizer — demand the ranking carries real signal, not
    // exactness
    assert(recall >= 0.3, s"trained-PQ top-20 recall $recall vs dot brute force")
  }

  test("duplicated spans find planted cross-doc runs; clone gate preserves output") {
    import spark.implicits._
    // A and B share a 12-token run at different offsets; C is clean
    val shared = (1 to 12).map(i => s"s$i")
    val a = ((1 to 5).map(i => s"a$i") ++ shared ++ (1 to 5).map(i => s"az$i")).mkString(" ")
    val b = ((1 to 7).map(i => s"b$i") ++ shared ++ (1 to 3).map(i => s"bz$i")).mkString(" ")
    val c = (1 to 30).map(i => s"c$i").mkString(" ")
    val corpus = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    def spans(df: org.apache.spark.sql.DataFrame, collapse: Boolean) =
      Dedup.duplicatedSpans(df, k = 10, collapseExact = collapse).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // k=10 windows fully inside the shared run: A positions 6..8 →
    // span tokens 6..17 (the run, exactly); B at 8..10 → 8..19
    assert(spans(corpus, false) == Set((1L, 6L, 17L), (2L, 8L, 19L)),
      s"got ${spans(corpus, false)}")
    // two separated shared runs in one doc stay two islands
    val r1 = (1 to 10).map(i => s"x$i"); val r2 = (1 to 10).map(i => s"y$i")
    val d = (r1 ++ (1 to 11).map(i => s"g$i") ++ r2).mkString(" ")
    val e = (r1 ++ (1 to 11).map(i => s"h$i") ++ r2).mkString(" ")
    val two = Seq((10L, d), (11L, e)).toDF("doc_id", "text")
    assert(spans(two, false) ==
      Set((10L, 1L, 10L), (10L, 22L, 31L), (11L, 1L, 10L), (11L, 22L, 31L)))
    // clones that differ only in CASE (normalize-identical — the
    // identity contentHash groups on): every doc becomes one
    // full-width span, and the collapse gate must not change output
    val cloned = corpus.unionByName(
      corpus.select((col("doc_id") + 100).as("doc_id"), upper(col("text")).as("text")))
    val gated = spans(cloned, true)
    assert(gated == spans(cloned, false), "collapse gate changed span output")
    assert(gated.contains((3L, 1L, 30L)) && gated.contains((103L, 1L, 30L)),
      s"cloned docs should be fully duplicated: $gated")
    // the xxhash64 production knob selects identical spans (only key
    // equality matters) — checked on the real corpus too
    val md5Spans = Dedup.duplicatedSpans(docs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val xxSpans = Dedup.duplicatedSpans(docs, k = 10, hash = "xxhash64").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(md5Spans == xxSpans, "hash knob changed the span selection")
    assert(md5Spans.nonEmpty, "sf0.001 corpus should contain duplicated runs")
    // the EXACT (content-keyed) mode: collision-free by construction,
    // so it must agree with the digest modes wherever no collision
    // occurred — i.e. everywhere in practice, pinned on the real corpus
    val exactSpans = Dedup.duplicatedSpans(docs, k = 10, hash = "exact").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(md5Spans == exactSpans, "exact mode diverged from the digest modes")
    assert(spans(two, false) == Dedup.duplicatedSpans(two, k = 10,
        collapseExact = false, hash = "exact").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("exact delta dedup drops corpus clones, collapses batch dups, keeps fresh docs") {
    import spark.implicits._
    val corpus = Seq((1L, "seen before"), (2L, "also seen")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "Seen Before"),          // corpus clone (normalize-equal) -> dropped
      (11L, "brand new"),            // fresh -> survives
      (12L, "brand new"),            // batch-internal dup -> collapses into 11
      (13L, null.asInstanceOf[String]), // null text -> dropped
      (14L, "also fresh")).toDF("doc_id", "text")
    val out = graft.ops.Dedup.exactDeltaSurvivors(batch, corpus)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(11L, 14L), s"survivors: $out")
  }

  test("paragraph dedup keeps first (doc,pos) occurrence; collapse gate preserves output") {
    import spark.implicits._
    // paraTokens=2 chunks: doc0 = [a b][c d][e f], doc1 = [c d][e f][a b]
    // (all seen in doc0), doc2 = [a b][c d][x y], doc3 = [a b] alone
    val corpus = Seq((0L, "a b c d e f"), (1L, "c d e f a b"),
      (2L, "a b c d x y"), (3L, "a b")).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame, collapse: Boolean) =
      Dedup.dedupParagraphs(df, paraTokens = 2, collapseExact = collapse)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val out = run(corpus, false)
    assert(out(0L) == ((3L, 3L, "a b c d e f")), s"doc0: ${out(0L)}")
    assert(out(1L) == ((3L, 0L, "")), "doc1's every paragraph appeared in doc0")
    assert(out(2L) == ((3L, 1L, "x y")), s"doc2 keeps only its unique tail: ${out(2L)}")
    assert(out(3L) == ((1L, 0L, "")), "doc3's sole paragraph appeared in doc0")
    // reassembly preserves ORIGINAL position order, not hash order
    val perm = Seq((0L, "z z q q m m"), (1L, "m m q q z z")).toDF("doc_id", "text")
    assert(run(perm, false)(1L)._3 == "", "permuted clone-of-chunks keeps nothing")
    assert(run(perm, false)(0L)._3 == "z z q q m m")
    // clone-heavy corpus: members keep nothing, reps keep exactly what
    // the direct computation gives them — gate must not change output
    val cloned = corpus.unionByName(
      (0L until 30L).map(i => (100L + i, "a b c d e f")).toDF("doc_id", "text"))
    assert(run(cloned, true) == run(cloned, false),
      "collapse gate changed paragraph-dedup output")
    // a clone with a smaller id than the original: the CLONE becomes
    // the rep and keeps the text; the original keeps nothing
    val flipped = Seq((5L, "p p w w"), (2L, "p p w w")).toDF("doc_id", "text")
      .unionByName((0L until 25L).map(i => (200L + i, "p p w w")).toDF("doc_id", "text"))
    val f = run(flipped, true)
    assert(f(2L) == ((2L, 2L, "p p w w")) && f(5L) == ((2L, 0L, "")), s"$f")
  }

  test("contamination report matches a literal per-doc gram intersection") {
    val d = docs.select("doc_id", "text")
    val report = Dedup.contaminationReport(
        d.filter(col("doc_id") % 23 =!= 0), d.filter(col("doc_id") % 23 === 0), n = 3)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(report.nonEmpty, "synthetic corpus should contaminate")
    // recompute from scratch: distinct trigram sets per doc, eval
    // union, per-train-doc intersection size
    def grams(text: String): Set[String] = {
      val ts = text.trim.toLowerCase.split(" ", -1).toSeq
      if (ts.length >= 3) ts.sliding(3).map(_.mkString(" ")).toSet
      else Set(ts.mkString(" "))
    }
    val all = d.collect().map(r => r.getLong(0) -> grams(r.getString(1))).toMap
    val evalGrams = all.filter(_._1 % 23 == 0).values.flatten.toSet
    val expected = all.filter(_._1 % 23 != 0)
      .map { case (id, g) => id -> (g.size.toLong, g.count(evalGrams).toLong) }
      .filter(_._2._2 > 0)
    assert(report.keySet == expected.keySet,
      s"contaminated doc sets differ: ${report.keySet.diff(expected.keySet)} / ${expected.keySet.diff(report.keySet)}")
    expected.foreach { case (id, (tg, hg)) =>
      val (rtg, rhg, frac) = report(id)
      assert(rtg == tg && rhg == hg, s"doc $id: got ($rtg,$rhg) want ($tg,$hg)")
      assert(math.abs(frac - hg.toDouble / tg) < 1e-6)
    }
    // pair attribution: every (train, eval) pair's shared-gram count
    val pairRep = Dedup.contaminationPairs(
        d.filter(col("doc_id") % 23 =!= 0), d.filter(col("doc_id") % 23 === 0),
        n = 3, minOverlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expectedPairs = (for {
      (tid, tg) <- all.toSeq if tid % 23 != 0
      (eid, eg) <- all.toSeq if eid % 23 == 0
      shared = (tg & eg).size if shared >= 2
    } yield (tid, eid) -> shared.toLong).toMap
    assert(pairRep == expectedPairs, "pair attribution diverged from literal recompute")
    // the clone gate must not change either output: clone-heavy train
    // side (every doc twice) collapses to distinct texts, results fan
    // back out through membership
    val train = d.filter(col("doc_id") % 23 =!= 0)
    val cloned = train.unionByName(train.select(
      (col("doc_id") + 1000000).as("doc_id"), col("text")))
    def rep(df: org.apache.spark.sql.DataFrame, collapse: Boolean) =
      Dedup.contaminationReport(df, d.filter(col("doc_id") % 23 === 0), n = 3,
          collapseExact = collapse)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep(cloned, true) == rep(cloned, false),
      "collapse gate changed the contamination report")
    def pairs(df: org.apache.spark.sql.DataFrame, collapse: Boolean) =
      Dedup.contaminationPairs(df, d.filter(col("doc_id") % 23 === 0), n = 3,
          minOverlap = 2, collapseExact = collapse)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs(cloned, true) == pairs(cloned, false),
      "collapse gate changed the pair attribution")
  }

  test("unigram LM: OOV floor, vocab cutoff, and weighted-collapse equivalence") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    // 30 clones of common prose + singleton nonsense: the clone gate
    // engages, the model head is the prose vocabulary, and the
    // nonsense doc lands OOV at the floor
    val prose = (0L until 30L).map(i => (i, "the cat sat on the mat"))
    val corpus = (prose :+ (900L, "zyx qwv jkp"))
      .toDF("doc_id", "text")
    def rows(collapse: Boolean) =
      TextAnalysis.withUnigramLogProb(corpus, vocabSize = 5, collapseExact = collapse)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
    val on = rows(true)
    assert(on == rows(false), "weighted collapse changed LM scores")
    assert(on.size == 31)
    // vocabSize=5: prose has 5 distinct words, so nonsense words are
    // all out-of-vocabulary
    assert(on(900L)._2 == 3L, s"nonsense doc should be all-OOV: ${on(900L)}")
    assert(on(0L)._2 == 0L, "prose doc should be fully in-vocabulary")
    assert(on(900L)._3 < on(0L)._3,
      "OOV-floor doc must score below in-vocab prose")
    // hand-check one value: 'the' appears 60 times of 183 total tokens
    val total = 30 * 6 + 3
    val expected = (2 * math.log(60.0 / total) + 4 * math.log(30.0 / total)) / 6
    assert(math.abs(on(0L)._3 - expected) < 1e-6, s"${on(0L)._3} vs $expected")
    // reference-corpus path (clone-heavy reference engages the model-
    // side gate): scored docs never touch the reference's ids
    val ref = ((0L until 20L).map(i => (i, "the cat sat")) :+ (99L, "dog runs"))
      .toDF("doc_id", "text")
    val toScore = Seq((1L, "the dog"), (2L, "qqq www")).toDF("doc_id", "text")
    def refRows(collapse: Boolean) =
      TextAnalysis.withUnigramLogProb(toScore, reference = Some(ref),
          vocabSize = 10, collapseExact = collapse)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
    val refOn = refRows(true)
    assert(refOn == refRows(false), "reference-corpus collapse changed LM scores")
    // reference totals 62 tokens: the/cat/sat ×20, dog/runs ×1
    val d1 = (math.log(20.0 / 62) + math.log(1.0 / 62)) / 2
    val fl = math.log(0.5 / 62)
    assert(refOn(1L)._2 == 0L && math.abs(refOn(1L)._3 - d1) < 1e-6)
    assert(refOn(2L)._2 == 2L && math.abs(refOn(2L)._3 - fl) < 1e-6)
  }

  test("KN bigram LM: hand values, normalization, fallbacks, collapse equivalence") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    // model corpus: bigram tokens (a,b)×2 (b,a) (a,c) → 3 bigram types
    // ctx a: cu=3 n1u=2; ctx b: cu=1 n1u=1; cont n1w=1 each; D=0.75
    val corpus = Seq((0L, "a b a c"), (1L, "a b"), (2L, "c"))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.withKneserNeyBigram(corpus)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(rows.size == 3)
    val pBA = (1.25 + 1.5 * (1.0 / 3)) / 3 // P(b|a)
    val pAB = (0.25 + 0.75 * (1.0 / 3)) / 1 // P(a|b)
    val pCA = (0.25 + 1.5 * (1.0 / 3)) / 3 // P(c|a)
    val d0 = (math.log(pBA) + math.log(pAB) + math.log(pCA)) / 3
    assert(rows(0L)._1 == 3L && rows(0L)._2 == 0L)
    assert(math.abs(rows(0L)._3.get - d0) < 1e-6, s"${rows(0L)._3} vs $d0")
    assert(math.abs(rows(1L)._3.get - math.log(pBA)) < 1e-6)
    // a 1-token doc has no bigrams and a null score
    assert(rows(2L) == ((0L, 0L, None)), s"single-token doc: ${rows(2L)}")
    // THE KN invariant: Σ_w P(w|u) = 1 over the vocab, including
    // unseen continuations — scored via reference mode, one synthetic
    // single-bigram doc per (context, word) pair
    val vocab = Seq("a", "b", "c")
    val pairDocs = (for {
      (u, i) <- Seq("a", "b").zipWithIndex
      (w, j) <- vocab.zipWithIndex
    } yield (i * 10L + j, s"$u $w")).toDF("doc_id", "text")
    val scored = TextAnalysis
      .withKneserNeyBigram(pairDocs, reference = Some(corpus))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    Seq(0, 1).foreach { i =>
      val mass = vocab.indices.map(j => math.exp(scored(i * 10L + j))).sum
      // tolerance bounded by the output's round(logp, 6): ~5e-7
      // relative per term, three terms
      assert(math.abs(mass - 1.0) < 1e-5, s"context $i mass $mass != 1")
    }
    // unseen-word / unseen-context fallbacks stay finite
    val oov = TextAnalysis.withKneserNeyBigram(
        Seq((50L, "z q"), (51L, "b c")).toDF("doc_id", "text"),
        reference = Some(corpus))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(oov(50L)._1 == 1L, "unseen bigram must count as unseen")
    assert(math.abs(oov(50L)._2 - math.log(0.5 / 3)) < 1e-6,
      s"unseen-context fallback: ${oov(50L)}")
    assert(math.abs(oov(51L)._2 - math.log(0.25)) < 1e-6,
      s"unseen bigram in seen context: ${oov(51L)}")
    // clone-heavy corpus: the weighted collapse must not change scores
    val cloned = ((0L until 30L).map(i => (i, "a b a c")) ++
      Seq((100L, "a b"), (101L, "b c a"))).toDF("doc_id", "text")
    def all(collapse: Boolean) =
      TextAnalysis.withKneserNeyBigram(cloned, collapseExact = collapse)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(all(true) == all(false), "weighted collapse changed KN scores")
  }

  test("KN trigram LM: hand values, per-context normalization, backoff cascade, collapse equivalence") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    // trigram tokens: (a,b,a)×2, (b,a,c) → tri types 2; continuation
    // types (v,w): (b,a), (a,c) → nb=2; ctx (a,b): cuv=2 n1uv=1,
    // (b,a): cuv=1 n1uv=1; mid: tv=1 n2v=1 for both a and b;
    // c1: n1w(a)=1, n1w(c)=1; D=0.75
    val corpus = Seq((0L, "a b a c"), (1L, "a b a"), (2L, "a b"))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.withKneserNeyTrigram(corpus)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(rows.size == 3)
    val p1a = 1.0 / 2; val p1c = 1.0 / 2
    val p2aGivenB = (0.25 + 0.75 * 1 * p1a) / 1 // P2(a|b) = 0.625
    val p2cGivenA = (0.25 + 0.75 * 1 * p1c) / 1 // P2(c|a) = 0.625
    val p3abA = (1.25 + 0.75 * 1 * p2aGivenB) / 2 // P3(a|a,b) = 0.859375
    val p3baC = (0.25 + 0.75 * 1 * p2cGivenA) / 1 // P3(c|b,a) = 0.71875
    val d0 = (math.log(p3abA) + math.log(p3baC)) / 2
    assert(rows(0L)._1 == 2L && rows(0L)._2 == 0L)
    assert(math.abs(rows(0L)._3.get - d0) < 1e-6, s"${rows(0L)._3} vs $d0")
    assert(math.abs(rows(1L)._3.get - math.log(p3abA)) < 1e-6)
    // a 2-token doc has no trigrams and a null score
    assert(rows(2L) == ((0L, 0L, None)), s"two-token doc: ${rows(2L)}")
    // THE KN invariant, now at trigram depth: Σ_w P3(w|u,v) = 1 over
    // the continuation vocab for every observed context — including
    // the unseen-trigram path, whose mass rides the P2 backoff
    val contVocab = Seq("a", "c") // words with N1+(··w) > 0
    val pairDocs = (for {
      ((u, v), i) <- Seq(("a", "b"), ("b", "a")).zipWithIndex
      (w, j) <- contVocab.zipWithIndex
    } yield (i * 10L + j, s"$u $v $w")).toDF("doc_id", "text")
    val scored = TextAnalysis
      .withKneserNeyTrigram(pairDocs, reference = Some(corpus))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    Seq(0, 1).foreach { i =>
      val mass = contVocab.indices.map(j => math.exp(scored(i * 10L + j))).sum
      assert(math.abs(mass - 1.0) < 1e-5, s"context $i mass $mass != 1")
    }
    // hand-check the unseen-trigram interpolation: P3(c|a,b) carries
    // exactly the discount mass D·N1+(uv·)/c(uv·) times P2(c|b),
    // itself backed off through an unseen continuation type
    val p2cGivenB = (0.0 + 0.75 * 1 * p1c) / 1 // (b,c) unseen → 0.375
    assert(math.abs(scored(1L) - math.log(0.75 * 1 * p2cGivenB / 2)) < 1e-6)
    // backoff cascade stays finite order by order: fully unseen
    // context → P1 floor; unseen context with a seen word → P1(w)
    val oov = TextAnalysis.withKneserNeyTrigram(
        Seq((50L, "z q x"), (51L, "x y a")).toDF("doc_id", "text"),
        reference = Some(corpus))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(oov(50L)._1 == 1L && math.abs(oov(50L)._2 - math.log(0.5 / 2)) < 1e-6,
      s"fully-unseen floor: ${oov(50L)}")
    assert(math.abs(oov(51L)._2 - math.log(p1a)) < 1e-6,
      s"unseen-context seen-word backoff: ${oov(51L)}")
    // clone-heavy corpus: type counts are multiplicity-invariant, so
    // the weighted collapse must not change scores
    val cloned = ((0L until 30L).map(i => (i, "a b a c")) ++
      Seq((100L, "a b a"), (101L, "b a c b"))).toDF("doc_id", "text")
    def all3(collapse: Boolean) =
      TextAnalysis.withKneserNeyTrigram(cloned, collapseExact = collapse)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(all3(true) == all3(false), "weighted collapse changed KN3 scores")
  }

  test("leakage-safe split: clusters stay whole, fractions hold, deterministic") {
    import spark.implicits._
    import graft.ops.Cluster
    val docs = (0L until 3000L).map(Tuple1(_)).toDF("doc_id")
    // a 3-chain (0-1-2: 0 and 2 never directly compared), a pair, and
    // a long-range edge — plus ~3000 singletons for the fraction check
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L), (500L, 2999L))
      .toDF("id1", "id2")
    val rows = Cluster.leakageSafeSplit(docs, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.length == 3000)
    val byCluster = rows.groupBy(_._2).map { case (c, m) => c -> m.map(_._3).toSet }
    assert(byCluster.values.forall(_.size == 1),
      "a near-dup cluster straddled a split boundary")
    val m = rows.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(0L)._1 == 0L && m(2L)._1 == 0L && m(0L)._2 == m(2L)._2,
      "transitive near-dups must share cluster and split")
    assert(m(500L)._2 == m(2999L)._2)
    // ~3000 independent cluster hashes: binomial(3000, .8) 4σ ≈ 0.03
    val trainFrac = rows.count(_._3 == "train").toDouble / rows.length
    assert(math.abs(trainFrac - 0.8) < 0.05, s"train fraction $trainFrac")
    assert(rows.map(_._3).toSet.subsetOf(Set("train", "val", "test")))
    // deterministic across runs; the seed actually salts
    val again = Cluster.leakageSafeSplit(docs, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.sortBy(_._1).sameElements(again.sortBy(_._1)))
    val other = Cluster.leakageSafeSplit(docs, pairs, seed = "other")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows.exists(r => other(r._1) != r._3), "seed had no effect")
    intercept[IllegalArgumentException] {
      Cluster.leakageSafeSplit(docs, pairs, Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("shard assignment: two-phase rank == plain window, LPT balance bound") {
    import spark.implicits._
    import graft.ops.Packing
    val rnd = new scala.util.Random(7)
    val docs = (0L until 500L).map(i =>
      (i, Seq.fill(1 + rnd.nextInt(40))("w").mkString(" "))).toDF("doc_id", "text")
    val out = Packing.assignShards(docs, nShards = 8, numShards = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 500)
    // the distributed rank must equal the single-ordering definition
    val expRank = out.sortBy(t => (-t._2, t._1)).zipWithIndex
      .map { case (t, i) => t._1 -> (i + 1L) }.toMap
    out.foreach { case (id, _, rank, shard) =>
      assert(rank == expRank(id), s"doc $id rank $rank != ${expRank(id)}")
      assert(shard == (rank - 1) % 8)
    }
    // LPT round-robin bound: shard token totals differ by at most one
    // maximal document
    val totals = out.groupBy(_._4).map { case (_, g) => g.map(_._2).sum }
    val maxDoc = out.map(_._2).max
    assert(totals.max - totals.min <= maxDoc,
      s"spread ${totals.max - totals.min} > max doc $maxDoc")
  }

  test("priority dedup survivors: per-component argmax, same components") {
    import graft.ops.Cluster
    val byLen = Cluster.dedupedCorpusBy(docs, threshold = 0.4, n = 3,
        priority = "n_chars")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labels = Cluster.fromJaccard(docs, threshold = 0.4, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val chars = docs.select(col("doc_id").cast("long"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val comps = labels.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(byLen.size == comps.size, "one survivor per component")
    comps.foreach { case (_, members) =>
      val best = members.maxBy(m => (chars(m), -m))
      assert(byLen.contains(best), s"expected survivor $best missing")
      assert(byLen(best) == chars(best))
      members.filterNot(_ == best).foreach(m =>
        assert(!byLen.contains(m), s"non-best member $m survived"))
    }
  }

  test("JL projection: determinism, distance preservation, projected recall") {
    val planes = Similarity.jlPlanes(16, 64)
    assert(planes.length == 16 && planes.forall(_.length == 64))
    val flat = planes.flatMap(_.toSeq)
    assert(flat.forall(v => v == 0.25f || v == -0.25f))
    assert(Similarity.jlPlanes(16, 64).flatMap(_.toSeq).sameElements(flat),
      "planes must be deterministic in the seed")
    val orig = embs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val proj = Similarity.projectEmbeddings(embs, planes).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(proj.keySet == orig.keySet)
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // JL lemma, sign matrix: E[‖Rx‖²] = ‖x‖², sd of the ratio
    // ≈ √(2/k) ≈ 0.35 per pair — the MEAN over ~1k pairs concentrates
    val ids = orig.keys.toArray.sorted.take(46)
    val ratios = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      od = d2(orig(ids(i)), orig(ids(j))) if od > 1e-12
    } yield d2(proj(ids(i)), proj(ids(j))) / od
    val mean = ratios.sum / ratios.size
    assert(ratios.size > 900)
    assert(math.abs(mean - 1.0) < 0.1, s"mean distance ratio $mean")
    assert(ratios.max < 3.0 && ratios.min > 0.2,
      s"ratio tails [${ratios.min}, ${ratios.max}]")
    // first-pass retrieval: a planted near-twin (v + 0.2·e1, cosine
    // ≈ 0.98 vs ≈ 0 for random unit pairs) must stay the projected
    // top-1 — on fully isotropic corpora neighbor RANKS are
    // information-free (the same caveat as LSH/IVF pruning), so the
    // retrieval claim is tested on structure, not noise
    val twins = embs.select((col("vec_id") + 10000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(0.2f)).otherwise(x)).as("embedding"))
    val projDf = Similarity.projectEmbeddings(embs.select("vec_id", "embedding")
        .unionByName(twins), planes)
      .select(col("vec_id"), col("proj").cast("array<float>").as("embedding"))
    val top1 = Similarity.bruteForceTopK(projDf,
        projDf.filter(col("vec_id") < 5), k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0L until 5L).count(q => top1(q) == q + 10000L)
    assert(hits >= 4, s"projected top-1 found only $hits/5 planted twins")
  }

  test("temperature mix: alpha endpoints, tail up-sampling, determinism") {
    import spark.implicits._
    import graft.ops.Sampling
    // head domain 9000 tokens (900 docs), tail 1000 (100 docs):
    // α=0.5 → q = (0.75, 0.25) → targets (3750, 1250) → tail rate
    // caps at 1 (kept whole), head samples at 3750/9000
    val docs = ((0L until 900L).map(i => (i, "head", 10L)) ++
      (1000L until 1100L).map(i => (i, "tail", 10L)))
      .toDF("doc_id", "source", "n_tokens")
    val out = Sampling.temperatureMix(docs, alpha = 0.5, totalBudget = 5000L)
      .select("doc_id", "source").collect().map(r => (r.getLong(0), r.getString(1)))
    val tailKept = out.count(_._2 == "tail")
    assert(tailKept == 100, s"tail domain must be kept whole, got $tailKept")
    val headRate = out.count(_._2 == "head") / 900.0
    // binomial(900, 0.4167) 4σ ≈ 0.066
    assert(math.abs(headRate - 3750.0 / 9000) < 0.07, s"head rate $headRate")
    // α = 1 degenerates to a single uniform rate budget/grandTotal
    val nat = Sampling.temperatureMix(docs, alpha = 1.0, totalBudget = 5000L)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val uni = Sampling.weighted(docs, Map("head" -> 0.5, "tail" -> 0.5))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(nat.sameElements(uni), "α=1 must equal the natural-proportion rate")
    // α = 0 splits the budget uniformly across domains: tail target
    // 2500 > 1000 caps, head samples at 2500/9000
    val flat = Sampling.temperatureMix(docs, alpha = 0.0, totalBudget = 5000L)
      .select("doc_id", "source").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(flat.count(_._2 == "tail") == 100)
    assert(math.abs(flat.count(_._2 == "head") / 900.0 - 2500.0 / 9000) < 0.07)
    // deterministic across runs
    val again = Sampling.temperatureMix(docs, alpha = 0.5, totalBudget = 5000L)
      .select("doc_id", "source").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.sortBy(_._1).sameElements(again.sortBy(_._1)))
    intercept[IllegalArgumentException] {
      Sampling.temperatureMix(docs, alpha = 1.5, totalBudget = 5000L)
    }
  }

  test("tfidf top terms: ranks, scores, and weighted-collapse equivalence") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val rnd = new scala.util.Random(43)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val bases = (0 until 20).map(_ =>
      Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val rows = bases.zipWithIndex.flatMap { case (t, i) =>
      (0 until (1 + rnd.nextInt(4))).map(c => (i * 100L + c, t))
    }
    val corpus = rows.toDF("doc_id", "text")
    def top(collapse: Boolean) =
      TextAnalysis.tfidfTopTerms(corpus, k = 3, collapseExact = collapse)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getString(2), r.getLong(3), r.getDouble(4))))
        .toMap
    val on = top(true)
    assert(on == top(false), "weighted collapse changed tfidf ranks/scores")
    // clones must rank identically to their representative
    val byDoc = on.keySet.groupBy(_._1)
    rows.groupBy(_._2).values.filter(_.size > 1).foreach { clones =>
      val ids = clones.map(_._1)
      val ranks = ids.map(i => byDoc(i).toSeq.sorted.map(on))
      assert(ranks.distinct.size == 1, s"clone group $ids ranked differently")
    }
    // hand-computed corpus: every rank, tf, and smoothed-idf score
    // checked against the production output (not a test-local restatement)
    val tiny = Seq((1L, "apple apple banana"), (2L, "apple cherry"), (3L, "banana"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(tiny, k = 2, collapseExact = false)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getString(2), r.getLong(3), r.getDouble(4))))
      .toMap
    def sc(tf: Long, dfc: Long) =
      BigDecimal(tf * (math.log(4.0 / (dfc + 1)) + 1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map(
      (1L, 1L) -> (("apple", 2L, sc(2, 2))),
      (1L, 2L) -> (("banana", 1L, sc(1, 2))),
      (2L, 1L) -> (("cherry", 1L, sc(1, 1))),
      (2L, 2L) -> (("apple", 1L, sc(1, 2))),
      (3L, 1L) -> (("banana", 1L, sc(1, 2)))), s"tfidf hand-check diverged: $got")
  }

  test("lm quality buckets: approx thresholds agree with exact ntile away from boundaries") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val rnd = new scala.util.Random(7)
    // 90 distinct scores per group (disjoint unit intervals, so the
    // exact tertiles are ranks 30/60); three groups to exercise the
    // per-group thresholds
    val rows = for {
      (g, gi) <- Seq("en", "es", "de").zipWithIndex; i <- 1 to 90
    } yield (gi * 1000L + i, g, -i.toDouble - rnd.nextDouble() * 0.5)
    val df = rows.toDF("doc_id", "lang_pred", "avg_logprob")
    def buckets(exact: Boolean): Map[Long, Long] =
      TextAnalysis.lmQualityBuckets(df, nBuckets = 3, exact = exact)
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bucket")).toMap
    val ex = buckets(true)
    val ap = buckets(false)
    // exact ntile: ranks 1-30 / 31-60 / 61-90 per group
    Seq("en", "es", "de").zipWithIndex.foreach { case (_, gi) =>
      (1 to 90).foreach { i =>
        val want = 1L + (i - 1) / 30
        assert(ex(gi * 1000L + i) == want, s"exact ntile rank $i -> ${ex(gi * 1000L + i)}")
      }
      // approx mode: same 30/30/30 split up to boundary fuzz (the
      // percentile sketch is exact at this size; only the <=-vs-rank
      // convention can move a doc at the exact threshold)
      val diffs = (1 to 90).count(i => ap(gi * 1000L + i) != ex(gi * 1000L + i))
      assert(diffs <= 2, s"group $gi: $diffs bucket disagreements (boundary fuzz > 1/threshold)")
      // monotone: a better score never lands in a worse bucket
      val byScore = (1 to 90).map(i => ap(gi * 1000L + i))
      assert(byScore == byScore.sorted, s"group $gi approx buckets not monotone in score")
    }
    // the documented TIE divergence: ntile splits a tie group by id,
    // rank-less thresholds send the whole group to the lower bucket
    val tied = (1 to 90).map(i => (9000L + i, "fr", -1.0)).toDF("doc_id", "lang_pred", "avg_logprob")
    val exTied = TextAnalysis.lmQualityBuckets(tied, nBuckets = 3)
      .collect().map(_.getAs[Long]("bucket")).sorted.toSeq
    assert(exTied == Seq.fill(30)(1L) ++ Seq.fill(30)(2L) ++ Seq.fill(30)(3L))
    val apTied = TextAnalysis.lmQualityBuckets(tied, nBuckets = 3, exact = false)
      .collect().map(_.getAs[Long]("bucket")).toSeq
    assert(apTied == Seq.fill(90)(3L),
      s"tie group should be indivisible in approx mode: ${apTied.distinct}")
    // null score lands in the LAST bucket in BOTH modes (Spark sorts
    // nulls last descending; approx mode pins it explicitly)
    val withNull = ((1 to 8).map(i => (100L + i, "en", Option(-i.toDouble))) :+
      ((200L, "en", Option.empty[Double])))
      .toDF("doc_id", "lang_pred", "avg_logprob")
    Seq(true, false).foreach { mode =>
      val b = TextAnalysis.lmQualityBuckets(withNull, nBuckets = 3, exact = mode)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bucket")).toMap
      assert(b(200L) == 3L, s"null score bucket in exact=$mode: ${b(200L)}")
      assert(b.size == 9, s"exact=$mode dropped rows: $b")
    }
  }

  test("media chunk-dup pairs: hand values; exact-payload collapse preserves output") {
    import graft.ops.Multimodal
    import spark.implicits._
    // 24-byte payloads, 8 chunks of 3: B edits one chunk of A (7/8),
    // C is byte-identical to A (8/8), D shares nothing; clones of A
    // and B (ids+100) force the collapse gate's probe on
    val a = "aaabbbcccdddeeefffggghhh"
    val b = "aaabbbcccdddXXXfffggghhh"
    val d = "zzzyyyxxxwwwvvvuuutttsss"
    val rows = Seq(1L -> a, 2L -> b, 3L -> a, 4L -> d) ++
      (0 until 20).flatMap(i => Seq((101L + i) -> a, (201L + i) -> b))
    val media = rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("media"))
    def run(collapse: Boolean) =
      Multimodal.chunkDupPairs(media, chunks = 8, minMatch = 6, collapseExact = collapse)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = run(false)
    assert(direct((1L, 3L)) == 8, s"identical payloads: ${direct.get((1L, 3L))}")
    assert(direct((1L, 2L)) == 7, s"one-chunk edit: ${direct.get((1L, 2L))}")
    assert(!direct.keySet.exists { case (x, y) => x == 4L || y == 4L },
      "unrelated payload must not pair")
    val collapsed = run(true)
    assert(collapsed == direct,
      s"collapse changed output: only-direct=${(direct.toSet -- collapsed.toSet).take(3)} " +
        s"only-collapsed=${(collapsed.toSet -- direct.toSet).take(3)}")
  }

  test("synthetic codec: pixel domain + histogram hand values through the decoder seam") {
    import graft.ops.Multimodal
    import spark.implicits._
    // "abc" = bytes 97 98 99 -> pixels 97 98 99, width 2 -> height 2,
    // all three land in luminance bin 6 (96-111)
    val media = Seq((7L, "abc")).toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("media"),
        lit("img").as("format"))
    val dec = Multimodal.decodeMedia(spark, media, Multimodal.SyntheticCodec(2))
      .collect().head
    assert(dec.getLong(0) == 7L && dec.getInt(1) == 2 && dec.getInt(2) == 2)
    assert(dec.getSeq[Int](3) == Seq(97, 98, 99), s"pixels: ${dec.getSeq[Int](3)}")
    val h = Multimodal.luminanceHistogram(
        spark, media, Multimodal.SyntheticCodec(2), bins = 16)
      .collect().head.getSeq[Float](3)
    assert(h(6) == 3f && h.sum == 3f, s"histogram: $h")
  }

  test("corpusDiff: per-status hand values, duplicate content never multiplies rows") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "z"), (5L, "w"))
      .toDF("doc_id", "text")
    val b = Seq((1L, "x"), (9L, "y"), (3L, "z"), (4L, "q"))
      .toDF("doc_id", "text")
    val out = Dedup.corpusDiff(a, b).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // doc 4 of a ("z") is NOT removed: its content survives at id 3;
    // with the duplicate "z" hash, semi/anti joins must still emit
    // exactly one row per doc
    assert(out.sorted.toSeq == Seq(1L -> "same", 3L -> "same", 4L -> "new",
      5L -> "removed", 9L -> "moved"), s"diff: ${out.sorted.toSeq}")
  }

  test("crossTopK == brute top-k; margin mining recovers planted cross-corpus twins") {
    import graft.ops.Similarity
    // disjoint id spaces: xs = base corpus, ys = ids + 100000
    val xs = embs.select(col("vec_id"), col("embedding"))
    val ys = embs.select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    // blocked cross top-k must equal the broadcast brute path (which
    // only skips same-id pairs — impossible across disjoint id spaces)
    val blocked = Similarity.crossTopK(xs, ys, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val brute = Similarity.bruteForceTopK(ys, xs, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(blocked == brute, s"blocked/brute cross top-k diverge: " +
      s"${(blocked.toSet -- brute.toSet).take(3)} vs ${(brute.toSet -- blocked.toSet).take(3)}")
    // every x's planted twin (identical vector at id+100000) must be
    // mined as a mutual best-margin pair with margin > 1
    val mined = Similarity.marginMinePairs(xs, ys, k = 3, threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val twinPairs = mined.filter { case (a, b, _) => b == a + 100000 }
    val nVecs = embs.count()
    assert(twinPairs.length == nVecs,
      s"${twinPairs.length} of $nVecs planted twins mined")
    assert(twinPairs.forall(_._3 > 1.0), "twin margins should exceed 1")
    assert(mined.length == nVecs,
      s"non-twin mutual pairs leaked past the twins: ${mined.length} != $nVecs")
    // the LSH-bucketed scale path: identical twins collide in every
    // band, so all planted pairs are still mined, mutual, margin > 1
    val minedLsh = Similarity.marginMinePairsLsh(xs, ys, k = 3, threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val lshTwins = minedLsh.filter { case (a, b, _) => b == a + 100000 }
    assert(lshTwins.length == nVecs,
      s"LSH mining lost planted twins: ${lshTwins.length} of $nVecs")
    assert(lshTwins.forall(_._3 > 1.0), "LSH twin margins should exceed 1")
  }

  test("epoch order: per-epoch completeness, independent permutations, determinism") {
    import graft.ops.Sampling
    val out = Sampling.epochOrder(docs, epochs = 3, nShards = 4).collect()
      .map(r => (r.getAs[Int]("epoch"), r.getAs[Long]("shard"),
        r.getAs[Long]("pos"), r.getAs[Long]("doc_id")))
    val nDocs = docs.count()
    // every epoch holds every doc exactly once
    (0 until 3).foreach { e =>
      val rows = out.filter(_._1 == e)
      assert(rows.length == nDocs && rows.map(_._4).distinct.length == nDocs,
        s"epoch $e incomplete: ${rows.length} of $nDocs")
      // positions within each shard are 1..k contiguous
      rows.groupBy(_._2).foreach { case (sh, g) =>
        assert(g.map(_._3).sorted.toSeq == (1L to g.length).toSeq,
          s"epoch $e shard $sh positions not contiguous")
      }
    }
    // epochs are DIFFERENT permutations: the (shard, pos) order of at
    // least one doc differs between any two epochs
    def orderOf(e: Int) = out.filter(_._1 == e).sortBy(t => (t._2, t._3)).map(_._4).toSeq
    assert(orderOf(0) != orderOf(1) && orderOf(1) != orderOf(2),
      "epoch permutations should be independent")
    // deterministic: re-run is identical
    val again = Sampling.epochOrder(docs, epochs = 3, nShards = 4).collect()
      .map(r => (r.getAs[Int]("epoch"), r.getAs[Long]("shard"),
        r.getAs[Long]("pos"), r.getAs[Long]("doc_id")))
    assert(out.toSet == again.toSet, "epochOrder not deterministic")
  }

  test("BPE: engine merges == in-JVM reference, greedy fold, encode consistency") {
    import graft.ops.Bpe
    import spark.implicits._
    // independent reference implementation ([[BpeReference]], shared
    // with the property spec): same argmax (count desc, then "a b"
    // string asc) and same leftmost-greedy merge
    def refLearn(words: Map[String, Long], n: Int) = BpeReference.learn(words, n)
    // fixture exercises the greedy-overlap edge ("aaaa" under (a,a)
    // must fold to aa|aa) and passthrough of non-[a-z0-9] tokens
    val corpus = Seq(
      (1L, "aaaa aaaa aaaa the bank rank tank"),
      (2L, "the the the bank bank ?! 42x"),
      (3L, "rank tank thank aaaa"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val (merges, seg) = Bpe.learn(corpus, nMerges = 6)
    val wf = Bpe.wordFrequencies(corpus).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = refLearn(wf, 6)
    assert(merges.map(m => (m.left_sym, m.right_sym, m.cnt)) == expect,
      s"engine ${merges} vs reference $expect")
    // "aaaa" must segment with non-overlapping greedy (a,a) merges:
    // first merge is (a,a) (count 3*4+1*... highest)
    assert(merges.head.left_sym == "a" && merges.head.right_sym == "a")
    val segMap = seg.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(!segMap("aaaa").contains("a|a|a|a"), s"aaaa under-merged: ${segMap("aaaa")}")
    // encode: trained words reproduce the training segmentation,
    // untrained tokens pass through verbatim, null text drops
    val enc = Bpe.encode(corpus, seg).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(enc.size == 3, s"null-text doc not dropped: ${enc.keySet}")
    val pieces2 = enc(2L)._2.split(" ")
    assert(pieces2.contains("?!"), s"passthrough token lost: ${enc(2L)._2}")
    assert(pieces2.count(_ == segMap("the")) == 3, s"doc2 'the' pieces: ${enc(2L)._2}")
    val nTok1 = "aaaa aaaa aaaa the bank rank tank".split(" ")
      .map(t => segMap.get(t).map(_.count(_ == '|') + 1).getOrElse(1)).sum
    assert(enc(1L)._1 == nTok1, s"doc1 n_tokens_bpe ${enc(1L)._1} != $nTok1")
    // OOV path: encoding a DIFFERENT corpus applies the learned
    // merges to unseen trainable words (never opaque-passthrough) —
    // reference = the same sequential greedy fold in plain Scala
    def refApply(word: String): Seq[String] =
      BpeReference.apply(word,
        merges.sortBy(_.rank).map(m => (m.left_sym, m.right_sym)))
    val corpusB = Seq((10L, "aaaaaa thanks ?!")).toDF("doc_id", "text")
    val encB = Bpe.encode(corpusB, seg, Some(merges)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val expPieces = Seq("aaaaaa", "thanks").map(w => refApply(w).mkString("|")) :+ "?!"
    assert(encB(10L)._2 == expPieces.mkString(" "),
      s"OOV encode ${encB(10L)._2} != ${expPieces.mkString(" ")}")
    assert(encB(10L)._1 == expPieces.dropRight(1).map(_.count(_ == '|') + 1).sum + 1,
      s"OOV token count ${encB(10L)._1}")
    seg.unpersist()
    // zero-merge tokenizer (single-char training corpus): OOV words
    // must CHAR-SPLIT under Some(merges) — the r6 property-spec catch
    // (empty merges used to mean "no merges supplied" and fell back
    // to opaque passthrough)
    val single = Seq((1L, "a b c a")).toDF("doc_id", "text")
    val (m0, seg0) = Bpe.learn(single, nMerges = 4)
    assert(m0.isEmpty, s"single-char corpus learned merges: $m0")
    val enc0 = Bpe.encode(Seq((1L, "abc")).toDF("doc_id", "text"), seg0, Some(m0))
      .collect().head
    assert(enc0.getString(2) == "a|b|c" && enc0.getLong(1) == 3L,
      s"zero-merge OOV should char-split: ${enc0.getString(2)}")
    seg0.unpersist()
  }

  test("approximate-tier recall floors vs exact comparators (bench metrology)") {
    // the quantitative guard for the four no_oracle entries: a
    // banding/probe-parameter regression (wrong chunks, nProbe, band
    // count) trips a floor here instead of needing an eyeball diff of
    // the bench JSON. The lsh/pq parameters are recall-TARGETED as of
    // round 9 (lshParamsForRecall(0.4, 0.9); PQ at 2 bits/dim), so
    // their floors are the named contract values minus noise margin —
    // measured 0.82 / 0.6 at sf0.1, 0.8 / 0.68 at sf0.001. Simhash
    // 4×16 banding is pigeonhole-LOSSLESS at maxDist 3 → exactly 1.
    val r = Bench.recalls(spark, sf)
    assert(r("q_dedup_simhash") == 1.0, s"lossless simhash banding must be exact: $r")
    // r10: nProbe is derived from a 0.85 candidate-recall contract on
    // the calibration sample, and the bench queries sit inside that
    // sample — so measured top-k overlap is >= the contract minus
    // rank-tie noise (was 0.4 with the hand-picked nProbe=8)
    assert(r("q_knn_ivf") >= 0.8, s"recall-calibrated ivf floor: $r")
    assert(r("q_knn_lsh") >= 0.5, s"recall-targeted lsh floor: $r")
    assert(r("q_knn_pq") >= 0.35, s"recall-targeted pq (2 bits/dim) floor: $r")
    // r11: the PQ->exact-rerank composite must lift the bare tier to a
    // servable number — the 50-candidate ADC cut only has to CONTAIN
    // the true top-10, not order it (measured 0.98 at sf0.001 and
    // 0.92 at sf0.1, vs 0.68/0.6 for the bare tier)
    assert(r("q_knn_pq_rerank") >= 0.9, s"pq+exact-rerank composite floor: $r")
    // r10: the Jaccard banding tier gets a per-run number too — at the
    // derived near-dup banding the S-curve puts τ=0.9 pairs at
    // ≈1-3e-7 proposal probability, so anything below ~1 is a
    // banding/shingle regression, not noise
    assert(r("q_dedup_minhash") >= 0.95, s"derived minhash banding floor: $r")
  }

  test("ivfProbeForRecall: smallest depth meeting the floor on a planted cell structure") {
    import graft.ops.Similarity
    import spark.implicits._
    // 4 orthogonal cells; the query's true top-2 split across its two
    // best cells BY CONSTRUCTION, fillers parked in the far cells —
    // so the calibrated depth is known exactly: one probed cell
    // captures half the truth, two capture all of it
    val cents: Array[Seq[Float]] = Array(
      Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f),
      Seq(0f, 0f, 1f, 0f), Seq(0f, 0f, 0f, 1f))
    val corpus = Seq(
      (1L, Seq(0.99f, 0.14f, 0f, 0f)), // cell 0 — true neighbor #1
      (2L, Seq(0.14f, 0.99f, 0f, 0f)), // cell 1 — true neighbor #2
      (3L, Seq(0f, 0f, 1f, 0f)),       // cell 2 — filler
      (4L, Seq(0f, 0f, 0f, 1f))        // cell 3 — filler
    ).toDF("vec_id", "embedding")
    // query leans to cell 0, second-best cell 1; id outside the corpus
    val q = Seq((100L, Seq(0.9f, 0.44f, 0f, 0f))).toDF("vec_id", "embedding")
    // minimality at each floor: depth 1 covers exactly half the true
    // top-2, so floors <= 0.5 derive 1 and anything above derives 2
    assert(Similarity.ivfProbeForRecall(corpus, q, 2, cents, 0.5) == 1)
    assert(Similarity.ivfProbeForRecall(corpus, q, 2, cents, 0.51) == 2)
    assert(Similarity.ivfProbeForRecall(corpus, q, 2, cents, 1.0) == 2)
    // monotone in the floor, capped at nCells (full probe = exact)
    assert(Similarity.ivfProbeForRecall(corpus, q, 4, cents, 1.0) <= 4)
    // the derived depth actually DELIVERS the contract when served
    val served = Similarity.ivfTopK(corpus, q, 2, nCells = 4,
      nProbe = Similarity.ivfProbeForRecall(corpus, q, 2, cents, 1.0),
      centroids = Some(cents))
    assert(served.select("vec_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }
}
