package graft

import org.apache.spark.sql.functions._
import graft.ext.{IVF, PQ, Similarity}

class PQSpec extends SparkSpec {
  import spark.implicits._

  // 8 tight clusters in 16-d (same construction as SimilaritySpec's ANN
  // bar): each query's true top-5 are its cluster-mates — the regime a
  // quantizer must get right.
  private lazy val clustered = (0 until 200).map { i =>
    val cl = i / 25
    val base = Seq.tabulate(16)(d =>
      if (d == 2 * cl) 10.0 else if (d == 2 * cl + 1) 5.0 else 0.0)
    ((i + 1).toLong,
      base.zipWithIndex.map { case (x, d) => x + ((i % 25) * (d + 3) % 11) * 0.02 })
  }.toDF("vec_id", "embedding")

  test("adcTopK: clustered recall >= 0.9 vs exact top-k; cos values are true cosines") {
    val pred = col("vec_id") % 25 === 1
    val exact = Similarity.bruteForceTopK(clustered, "vec_id", "embedding", pred, 5)
      .select("q_id", "c_id", "cos")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val pq = PQ.adcTopK(clustered, "vec_id", "embedding", pred,
        k = 5, m = 4, kc = 16)
      .select("q_id", "c_id", "cos")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val recall = (exact.keySet & pq.keySet).size.toDouble / exact.size
    info(f"PQ clustered recall@5: $recall%.3f")
    assert(recall >= 0.9, f"PQ recall $recall%.3f below 0.9")
    // survivors carry EXACT cosine (the re-rank recomputes from the true
    // vectors), so overlapping pairs must agree bit-for-bit with brute force
    (exact.keySet & pq.keySet).foreach { p =>
      assert(exact(p) == pq(p), s"pair $p exact ${exact(p)} != pq ${pq(p)}")
    }
  }

  test("encode: kernel assignment == broadcast-join min_by argmin, bit-for-bit (r15 parity pin)") {
    // the r15 map-only kernel path (graft_nearest_cell per sub) must
    // reproduce the join formulation's (d2, cell) argmin exactly — the
    // same pin IVFSkewSpec holds for the coarse quantizer, applied to
    // the fine one. The join reference is rebuilt inline from the same
    // codebooks (dot-product float chain and min_by tie-break verbatim).
    import graft.functions.GraftFunctions.dotProduct
    val m = 4
    val cb = PQ.codebooks(clustered, "vec_id", "embedding", m = m, k = 8)
    val kernelCodes = PQ.encode(clustered, "vec_id", "embedding", cb, m = m)
      .select(col("vid"), posexplode(col("codes")))
      .select(col("vid"), col("pos").as("sub"), col("col").as("cell"))
      .as[(Long, Int, Int)].collect().toSet
    // join reference: explode sub-slices, join every codeword of the sub,
    // min_by((d2, cell)) — the pre-r15 assignCodes body
    val len = 16 / m
    val subs = clustered.select(col("vec_id").as("vid"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          sbv => slice(col("embedding"), sbv * len + 1, lit(len)))))
      .select(col("vid"), col("pos").as("sub"),
        transform(col("col"), x => x.cast("double")).as("subv"))
    val d2 = dotProduct(col("subv"), col("subv")) -
      lit(2.0) * dotProduct(col("subv"), col("c")) +
      dotProduct(col("c"), col("c"))
    val joinCodes = subs.join(broadcast(cb), "sub")
      .withColumn("d2", d2)
      .groupBy(col("vid"), col("sub"))
      .agg(min_by(col("cell"), struct(col("d2"), col("cell"))).as("cell"))
      .as[(Long, Int, Int)].collect().toSet
    assert(kernelCodes == joinCodes,
      s"kernel vs join assignment diverged: ${(kernelCodes -- joinCodes).take(5)} / ${(joinCodes -- kernelCodes).take(5)}")
  }

  test("encode: m codes per vector, each within 1..k") {
    val cb = PQ.codebooks(clustered, "vec_id", "embedding", m = 4, k = 8)
    val codes = PQ.encode(clustered, "vec_id", "embedding", cb, m = 4)
    assert(codes.count() == 200)
    val bad = codes.select(col("vid"), col("codes"))
      .filter(size(col("codes")) =!= 4 ||
        exists(col("codes"), c => c < 1 || c > 8))
    assert(bad.count() == 0, "every vector gets exactly m in-range codes")
  }

  test("distortionBySubspace: zero on a one-point corpus; matches a driver-side recompute") {
    // a corpus of identical vectors trains every codeword onto that point
    // (up to the decimal-mean's 18-digit quantization) → per-subspace MSE
    // indistinguishable from zero
    val same = (1L to 20L).map(i => (i, Seq.tabulate(16)(d => 0.25 * d - 1.0)))
      .toDF("vec_id", "embedding")
    val cbSame = PQ.codebooks(same, "vec_id", "embedding", m = 4, k = 2)
    PQ.distortionBySubspace(same, "vec_id", "embedding", cbSame, m = 4)
      .collect().foreach { r =>
        assert(r.getAs[Long]("n_vecs") == 20L)
        assert(math.abs(r.getAs[Double]("mse")) < 1e-9 &&
          math.abs(r.getAs[Double]("max_se")) < 1e-9, r.toString)
      }
    // clustered fixture: engine MSE == driver recompute (same d2 chain,
    // nearest codeword per sub-slice), one row per subspace
    val cb = PQ.codebooks(clustered, "vec_id", "embedding", m = 4, k = 8)
    val cbRows = cb.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val vecs = clustered.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    val truth = (0 until 4).map { sub =>
      val ses = vecs.map { case (_, v) =>
        val sv = v.slice(sub * 4, sub * 4 + 4)
        cbRows.collect { case ((s2, _), c) if s2 == sub =>
          dot(sv, sv) - 2.0 * dot(sv, c) + dot(c, c) }.min
      }
      sub -> (ses.sum / ses.length, ses.max)
    }.toMap
    val got = PQ.distortionBySubspace(clustered, "vec_id", "embedding", cb, m = 4)
      .collect().map(r => r.getInt(0) ->
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("mse"), r.getAs[Double]("max_se"))).toMap
    assert(got.keySet == Set(0, 1, 2, 3))
    got.foreach { case (sub, (n, mse, maxSe)) =>
      val (tMse, tMax) = truth(sub)
      assert(n == 200L, s"sub $sub n=$n")
      assert(math.abs(mse - tMse) < 1e-6, s"sub $sub mse $mse vs $tMse")
      assert(math.abs(maxSe - tMax) < 1e-6, s"sub $sub max $maxSe vs $tMax")
    }
  }

  test("adcTopK: deterministic across runs (no RNG anywhere)") {
    val pred = col("vec_id") % 50 === 1
    def run() = PQ.adcTopK(clustered, "vec_id", "embedding", pred, k = 3, m = 4)
      .orderBy("q_id", "rn").collect().toSeq
    assert(run() == run())
  }

  test("adcTopKFromIndex: stored codebooks+codes round-trip parquet, recall >= 0.9, no retraining") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_index").toString
    // BUILD once: train codebooks, encode the corpus, persist both
    val cb = PQ.codebooks(clustered, "vec_id", "embedding", m = 4, k = 16)
    PQ.encode(clustered, "vec_id", "embedding", cb, m = 4)
      .write.mode("overwrite").parquet(s"$dir/codes")
    cb.write.mode("overwrite").parquet(s"$dir/codebooks")
    // QUERY many: a reader that only has the parquet index + the vectors
    val pred = col("vec_id") % 25 === 1
    val got = PQ.adcTopKFromIndex(clustered, "vec_id", "embedding", pred,
        spark.read.parquet(s"$dir/codebooks"),
        spark.read.parquet(s"$dir/codes"), k = 5, m = 4)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(clustered, "vec_id", "embedding", pred, 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(f"stored-index recall@5: $recall%.3f")
    assert(recall >= 0.9, f"stored-index recall $recall%.3f below 0.9")
    // per-query contract: exactly k rows, ranks contiguous
    val rows = PQ.adcTopKFromIndex(clustered, "vec_id", "embedding", pred,
        spark.read.parquet(s"$dir/codebooks"),
        spark.read.parquet(s"$dir/codes"), k = 5, m = 4).collect()
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getInt(3)).sorted.toSeq == (1 to g.length) && g.length <= 5)
    }
  }

  test("ivfAdcTopK: clustered recall >= 0.9; full probe + full rerank == brute force") {
    val pred = col("vec_id") % 25 === 1
    val exact = Similarity.bruteForceTopK(clustered, "vec_id", "embedding", pred, 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    // production shape: 2 of 8 coarse cells probed, k·4 ADC shortlist.
    // 8 tight clusters ↔ 8 cells: a query's cluster-mates share its
    // nearest cell, so nprobe=2 should recall essentially everything.
    val ivfpq = PQ.ivfAdcTopK(clustered, "vec_id", "embedding", pred,
        k = 5, cells = 8, nprobe = 2, m = 4, kc = 16)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivfpq).size.toDouble / exact.size
    info(f"IVF-PQ clustered recall@5: $recall%.3f")
    assert(recall >= 0.9, f"IVF-PQ recall $recall%.3f below 0.9")
    // reduction: probe EVERY cell and keep the whole ADC ranking → the
    // exact re-rank sees all candidates and must equal brute force exactly
    val full = PQ.ivfAdcTopK(clustered, "vec_id", "embedding", pred,
        k = 5, cells = 8, nprobe = 8, m = 4, kc = 16, rerank = 40)
      .orderBy("q_id", "rn").collect().toSeq
    val brute = Similarity.bruteForceTopK(clustered, "vec_id", "embedding", pred, 5)
      .orderBy("q_id", "rn").collect().toSeq
    assert(full == brute, "full-probe/full-rerank IVF-PQ must reduce to brute force")
  }

  test("ivfAdcResidualTopK: clustered recall >= 0.9; full probe + full rerank == brute force") {
    val pred = col("vec_id") % 25 === 1
    val exact = Similarity.bruteForceTopK(clustered, "vec_id", "embedding", pred, 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val respq = PQ.ivfAdcResidualTopK(clustered, "vec_id", "embedding", pred,
        k = 5, cells = 8, nprobe = 2, m = 4, kc = 16)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (exact & respq).size.toDouble / exact.size
    info(f"residual IVF-PQ clustered recall@5: $recall%.3f")
    assert(recall >= 0.9, f"residual IVF-PQ recall $recall%.3f below 0.9")
    // the ivfAdcTopK reduction holds here too: probe every cell, keep the
    // whole ADC ranking → the exact re-rank sees all candidates
    val full = PQ.ivfAdcResidualTopK(clustered, "vec_id", "embedding", pred,
        k = 5, cells = 8, nprobe = 8, m = 4, kc = 16, rerank = 40)
      .orderBy("q_id", "rn").collect().toSeq
    val brute = Similarity.bruteForceTopK(clustered, "vec_id", "embedding", pred, 5)
      .orderBy("q_id", "rn").collect().toSeq
    assert(full == brute, "full-probe/full-rerank residual IVF-PQ must reduce to brute force")
  }

  test("residual encoding: total distortion strictly below raw PQ on clustered data (the IVFADC claim)") {
    import graft.ext.IVF
    val rawCb = PQ.codebooks(clustered, "vec_id", "embedding", m = 4, k = 8)
    val rawMse = PQ.distortionBySubspace(clustered, "vec_id", "embedding", rawCb, m = 4)
      .agg(sum("mse")).as[Double].head()
    val cents = IVF.kmeansCentroids(clustered, "vec_id", "embedding", k = 8, iters = 3)
    val res = PQ.residualTable(clustered, "vec_id", "embedding", cents)
      .select(col("vid"), col("r"))
    val resCb = PQ.codebooks(res, "vid", "r", m = 4, k = 8)
    val resMse = PQ.distortionBySubspace(res, "vid", "r", resCb, m = 4)
      .agg(sum("mse")).as[Double].head()
    info(f"total MSE raw=$rawMse%.6f residual=$resMse%.6f")
    // 8 tight clusters, 8 coarse cells: the coarse quantizer absorbs the
    // between-cluster spread, leaving the shared residual codebook only
    // the within-cluster radius — the gain must be large, not marginal
    // (measured ~1.9× on this fixture; the bar leaves headroom for the
    // decimal-mean quantization, not for a broken residual chain)
    assert(resMse < rawMse * 0.6,
      f"residual encoding should cut distortion well below raw here: raw=$rawMse%.6f res=$resMse%.6f")
  }

  test("residualTable: r = v - centroid of the OWN assigned cell, exact IEEE elementwise") {
    import graft.ext.IVF
    val cents = IVF.kmeansCentroids(clustered, "vec_id", "embedding", k = 4, iters = 2)
    val centMap = cents.select(col("cell"), col("c")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val assignMap = IVF.assignWithCentroids(clustered, "vec_id", "embedding", cents)
      .as[(Long, Int)].collect().toMap
    val vecs = clustered.as[(Long, Seq[Double])].collect().toMap
    PQ.residualTable(clustered, "vec_id", "embedding", cents)
      .select(col("vid"), col("ccell"), col("r"))
      .as[(Long, Int, Seq[Double])].collect().foreach { case (vid, ccell, r) =>
        assert(ccell == assignMap(vid), s"vid=$vid cell mismatch")
        val expect = vecs(vid).zip(centMap(ccell)).map { case (a, b) => a - b }
        assert(r == expect, s"vid=$vid residual mismatch")
      }
  }

  test("ivfAdcTopK trainFrac: sample-trained quantizers keep recall >= 0.9 (s14's shape)") {
    // quantizers are averages — a 1/4 hash-sample must saturate them; the
    // assignment pass still covers every vector, so only training moved
    val pred = col("vec_id") % 25 === 1
    val exact = Similarity.bruteForceTopK(clustered, "vec_id", "embedding", pred, 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val sampled = PQ.ivfAdcTopK(clustered, "vec_id", "embedding", pred,
        k = 5, cells = 8, nprobe = 2, m = 4, kc = 16, trainFrac = 4)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (exact & sampled).size.toDouble / exact.size
    info(f"sample-trained IVF-PQ recall@5: $recall%.3f")
    assert(recall >= 0.9, f"sample-trained recall $recall%.3f below 0.9")
  }

  // ids 121..160 repeat the vectors of ids 1..40 exactly, so a query meets
  // several candidates at one rounded cos: its own copy at 1.0, and every
  // duplicated pair at a shared value.
  private lazy val withDups = {
    val base = clustered.filter(col("vec_id") <= 120)
    base.union(base.filter(col("vec_id") <= 40)
      .select((col("vec_id") + 120).as("vec_id"), col("embedding")))
  }

  test("ANN contract: every path set to see every candidate returns bruteForceTopK's rows, ties lowest c_id first") {
    val (id, vec, k, m, kc, cells) = ("vec_id", "embedding", 5, 4, 8, 4)
    val pred = col("vec_id") % 10 === 1
    // k·rerank >= corpus size keeps every candidate in the ADC shortlist;
    // nprobe = cells probes every coarse cell
    val rerank = (withDups.count().toInt + k - 1) / k
    val brute = Similarity.bruteForceTopK(withDups, id, vec, pred, k)
      .orderBy("q_id", "rn").collect().toSeq
    val tied = brute.groupBy(r => (r.getLong(0), r.getDouble(2))).count(_._2.size > 1)
    assert(tied > 0, "the corpus must put tied candidates inside some query's top k")

    val cb = PQ.codebooks(withDups, id, vec, m = m, k = kc)
    val codes = PQ.encode(withDups, id, vec, cb, m = m)
    val cents = IVF.kmeansCentroids(withDups, id, vec, k = cells)
    val codesByCell = IVF.assignWithCentroids(withDups, id, vec, cents)
      .withColumnRenamed("cell", "ccell").join(codes, "vid")
    val resCb = PQ.residualCodebooks(withDups, id, vec, cents, m = m, k = kc)
    val res = PQ.residualTable(withDups, id, vec, cents)
    val resCodesByCell = PQ.encode(res, "vid", "r", resCb, m = m)
      .join(res.select(col("vid"), col("ccell")), "vid")
    val cterm = PQ.residualCrossTerms(cents, resCb, m = m)
    val paths = Seq(
      "adcTopK" -> PQ.adcTopK(withDups, id, vec, pred, k = k, m = m, kc = kc,
        rerank = rerank),
      "adcTopKFromIndex" -> PQ.adcTopKFromIndex(withDups, id, vec, pred, cb, codes,
        k = k, m = m, rerank = rerank),
      "ivfAdcTopKFromIndex" -> PQ.ivfAdcTopKFromIndex(withDups, id, vec, pred, cents,
        codesByCell, cb, k = k, nprobe = cells, m = m, rerank = rerank),
      "ivfAdcResidualTopKFromIndex" -> PQ.ivfAdcResidualTopKFromIndex(withDups, id, vec,
        pred, cents, resCodesByCell, resCb, cterm, k = k, nprobe = cells, m = m,
        rerank = rerank),
      "ivfTopK" -> IVF.ivfTopK(withDups, id, vec, pred, k = k, cells = cells,
        nprobe = cells))
    paths.foreach { case (name, df) =>
      val got = df.orderBy("q_id", "rn").collect().toSeq
      assert(got == brute, s"$name: ${got.diff(brute).take(5)} vs brute ${brute.diff(got).take(5)}")
    }
  }
}
