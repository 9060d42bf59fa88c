package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: identical vectors → 1.0, orthogonal → 0.0") {
    val df = Seq(
      (1L, Seq(1.0, 0.0, 2.0)),
      (2L, Seq(1.0, 0.0, 2.0)),
      (3L, Seq(0.0, 5.0, 0.0))
    ).toDF("id", "v")
    val got = df.as("x").crossJoin(df.as("y"))
      .filter(col("x.id") === 1 && col("y.id") =!= 1)
      .select(col("y.id"),
        round(Similarity.cosine(col("x.v"), col("y.v")), 9).as("c"))
      .orderBy("y.id").as[(Long, Double)].collect().toSeq
    assert(got == Seq((2L, 1.0), (3L, 0.0)))
  }

  test("bruteForceTopK: self excluded, k rows per query, rank ordered") {
    val topk = Similarity.bruteForceTopK(Tables.embeddings(spark, sf),
      "vec_id", "embedding", col("vec_id") % 50 === 0, k = 5)
    val rows = topk.collect()
    assert(rows.nonEmpty, "query predicate matched no vectors")
    val perQ = rows.groupBy(_.getLong(0))
    assert(perQ.values.forall(_.length == 5))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    // ranks ordered by cos desc within each query
    perQ.values.foreach { g =>
      val sorted = g.sortBy(_.getInt(3))
      assert(sorted.map(_.getDouble(2)).sliding(2).forall(p => p.head >= p.last))
    }
  }

  test("rpSketch is deterministic and band-stable across runs") {
    val e = Tables.embeddings(spark, sf).limit(50)
    val a = Similarity.rpSketch(e, "vec_id", "embedding").orderBy("doc").collect()
    val b = Similarity.rpSketch(e, "vec_id", "embedding").orderBy("doc").collect()
    assert(a.sameElements(b))
  }

  test("ANN recall thresholds on clustered vectors: LSH and IVF vs exact top-k") {
    // 8 tight clusters in 16-d (one dominant pair of dims each, small
    // deterministic jitter): the regime ANN indexes exist for. Each
    // query's true top-5 are its cluster-mates — both approximate paths
    // must recover (nearly) all of them. Random-data recall is measured
    // info-only in the next test; THIS is the quality bar.
    val data = (0 until 200).map { i =>
      val cl = i / 25
      val base = Seq.tabulate(16)(d =>
        if (d == 2 * cl) 10.0 else if (d == 2 * cl + 1) 5.0 else 0.0)
      ((i + 1).toLong,
        base.zipWithIndex.map { case (x, d) => x + ((i % 25) * (d + 3) % 11) * 0.02 })
    }.toDF("vec_id", "embedding")
    val pred = col("vec_id") % 25 === 1
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(data, "vec_id", "embedding", pred, 5))
    val lsh = pairs(Similarity.annTopK(data, "vec_id", "embedding", pred, 5))
    val ivf = pairs(graft.ext.IVF.ivfTopK(data, "vec_id", "embedding", pred,
      k = 5, cells = 8, nprobe = 2))
    val rLsh = (exact & lsh).size.toDouble / exact.size
    val rIvf = (exact & ivf).size.toDouble / exact.size
    info(f"clustered recall@5 — RP-LSH: $rLsh%.3f, IVF(nprobe=2/8): $rIvf%.3f")
    assert(rLsh >= 0.9, f"LSH recall $rLsh%.3f below 0.9")
    assert(rIvf >= 0.9, f"IVF recall $rIvf%.3f below 0.9")
  }

  test("annTopK: results are true cosines; recall vs brute force measured") {
    val emb = Tables.embeddings(spark, sf)
    val pred = col("vec_id") % 50 === 0
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", pred, 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annTopK(emb, "vec_id", "embedding", pred, 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    // On near-random embeddings LSH recall is modest by construction —
    // assert the plumbing (nonempty, no self-pairs, subset cosines match
    // brute-force values) rather than a recall bar the data can't support.
    assert(ann.nonEmpty)
    assert(ann.forall { case (q, c) => q != c })
    val recall = if (exact.isEmpty) 0.0 else (exact & ann).size.toDouble / exact.size
    info(f"ANN recall@5 vs brute force on near-random data: $recall%.2f")
  }

  test("mipsTopK: picks the inner-product winner where cosine would rank wrongly") {
    // Norms differ wildly so cosine order and dot order DISAGREE: vs
    // query (1,0), (0.9, 0.001) is the cosine winner (near-parallel) but
    // (10, 0.1) has >10× its inner product — MIPS must rank it first.
    // bands = bits (single-bit bands) makes a candidate miss require all
    // 32 deterministic murmur3 projections to disagree — never here.
    val df = Seq(
      (0L, Seq(1.0, 0.0)),
      (1L, Seq(10.0, 0.1)),
      (2L, Seq(0.9, 0.001)),
      (3L, Seq(-4.0, 2.0)),
      (4L, Seq(0.0, 3.0))
    ).toDF("vec_id", "embedding")
    val got = Similarity.mipsTopK(df, "vec_id", "embedding",
        col("vec_id") === 0, k = 4, bits = 32, bands = 32)
      .orderBy("rn").as[(Long, Long, Double, Int)].collect().toSeq
    assert(got.head._2 == 1L,
      s"MIPS winner must be the big-norm vector, got $got")
    // reported dots are the exact inner products, ranking follows them
    val dots = got.map(r => r._2 -> r._3).toMap
    assert(dots(1L) == 10.0 && dots(2L) == 0.9)
    assert(got.map(_._3).sliding(2).forall(p => p.head >= p.last))
  }

  test("mipsTopK: recall vs brute-force MIPS measured; self excluded") {
    val emb = Tables.embeddings(spark, sf)
    val pred = col("vec_id") % 50 === 0
    graft.functions.GraftFunctions.register(spark)
    val v = emb.select(col("vec_id").as("c_id"),
      col("embedding").cast("array<double>").as("cv"))
    val q = emb.filter(pred).select(col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dot").desc, col("c_id"))
    val exact = v.crossJoin(broadcast(q)).filter(col("q_id") =!= col("c_id"))
      .withColumn("dot", round(call_function("graft_dot", col("qv"), col("cv")), 6))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val mips = Similarity.mipsTopK(emb, "vec_id", "embedding", pred, 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    assert(mips.nonEmpty)
    assert(mips.forall { case (a, b) => a != b })
    val recall = (exact & mips).size.toDouble / exact.size
    info(f"MIPS recall@5 vs brute-force inner product: $recall%.2f")
  }

  test("mmrTopK: a perfect near-copy of pick-1 loses rank 2 to the diverse mirror") {
    // q=(1,0); c1=(0.98, 0.199); c2 = 2·c1 (cosine-identical to c1 —
    // rel ties bit-for-bit since doubling is exact — and sim(c1,c2)=1);
    // c3 = mirror of c1 (same relevance, sim(c1,c3)≈0.92).
    // Greedy: pick1 = c1 (rel tie → lowest id). Step 2: the exact copy
    // scores 0.7·rel − 0.3·1.0, the mirror 0.7·rel − 0.3·0.92 — the
    // mirror wins. Plain top-k would have returned the copy at rank 2.
    val df = Seq(
      (0L, Seq(1.0, 0.0)),
      (1L, Seq(0.98, 0.199)),
      (2L, Seq(1.96, 0.398)),
      (3L, Seq(0.98, -0.199))
    ).toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(df, "vec_id", "embedding",
        col("vec_id") === 0, k = 3, depth = 10)
      .orderBy("rn").as[(Long, Long, Int, Double)].collect().toSeq
    assert(got.map(_._2) == Seq(1L, 3L, 2L),
      s"expected picks (c1, mirror, copy), got $got")
    // scores strictly decrease down the picked list
    assert(got.map(_._4).sliding(2).forall(p => p.head >= p.last), got.toString)
  }

  test("mmrTopK: grouped graft_mmr expression == the k-round join loop, bit-for-bit (r15 parity pin)") {
    // random-ish clustered corpus, several queries — replay the pre-r15
    // DataFrame loop inline and require identical (q, c, step, score)
    // tuples from the grouped-expression form, scores compared as raw
    // bits (the floorTo chain must match exactly).
    val df = (0 until 120).map { i =>
      val cl = i % 6
      (i + 1L, Seq.tabulate(8)(d =>
        (if (d == cl) 8.0 else 1.0) + ((i * 37 + d * 11) % 17) * 0.13))
    }.toDF("vec_id", "embedding")
    val pred = col("vec_id") % 17 === 3
    val k = 4
    val got = Similarity.mmrTopK(df, "vec_id", "embedding", pred, k = k, depth = 12)
      .as[(Long, Long, Int, Double)].collect().toSet
    // inline replica of the r14 loop
    val cands = Similarity.bruteForceTopK(df, "vec_id", "embedding", pred, 12)
      .select(col("q_id"), col("c_id"), col("cos").as("rel"))
      .localCheckpoint()
    val vecs = df.select(col("vec_id").as("vid"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
    val sims = cands.select(col("q_id"), col("c_id").as("a_id"))
      .join(cands.select(col("q_id").as("q2"), col("c_id").as("b_id")),
        col("q_id") === col("q2") && col("a_id") =!= col("b_id"))
      .drop("q2")
      .join(vecs.select(col("vid").as("a_id"), col("v").as("va"),
        col("nrm").as("na")), "a_id")
      .join(vecs.select(col("vid").as("b_id"), col("v").as("vb"),
        col("nrm").as("nb")), "b_id")
      .select(col("q_id"), col("a_id"), col("b_id"),
        round(call_function("graft_dot", col("va"), col("vb")) /
          (col("na") * col("nb")), 6).as("sim"))
      .localCheckpoint()
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("rel").desc, col("c_id"))
    var picks = cands.withColumn("rn", row_number().over(w1))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("c_id"), lit(1).as("step"),
        graft.ops.Prep.floorTo(lit(0.7) * col("rel"), 6).as("score"))
      .localCheckpoint()
    for (j <- 2 to k) {
      val remaining = cands.join(picks.select("q_id", "c_id"),
        Seq("q_id", "c_id"), "left_anti")
      val pen = sims
        .join(picks.select(col("q_id"), col("c_id").as("b_id")), Seq("q_id", "b_id"))
        .groupBy(col("q_id"), col("a_id"))
        .agg(max(col("sim")).as("ms"))
        .withColumnRenamed("a_id", "c_id")
      val wj = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("score").desc, col("c_id"))
      val pj = remaining.join(pen, Seq("q_id", "c_id"))
        .withColumn("score",
          graft.ops.Prep.floorTo(
            lit(0.7) * col("rel") - lit(0.3) * col("ms"), 6))
        .withColumn("rn", row_number().over(wj))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("c_id"), lit(j).as("step"), col("score"))
      picks = picks.union(pj).localCheckpoint()
    }
    val ref = picks.select(col("q_id"), col("c_id"),
        col("step").cast("int"), col("score"))
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(got == ref,
      s"grouped MMR diverged from the loop: extra=${(got -- ref).take(5)} missing=${(ref -- got).take(5)}")
  }

  test("clusterDedup: exact dups always caught; drops are a sound subset of all-pairs") {
    // 60 base vectors in 3 well-separated regions + 6 exact duplicates.
    // Identical vectors share an argmin cell by construction, so exact
    // duplicates can never escape through a cell boundary.
    val base = (0 until 60).map { i =>
      val region = i % 3
      (i + 1L, Seq.tabulate(8)(d =>
        (if (d == region * 2) 10.0 else 0.5) + (i / 3) * 0.01 * (d + 1)))
    }
    val dups = (0 until 6).map(j => (100L + j, base(j * 7)._2))
    val data = (base ++ dups).toDF("vec_id", "embedding")
    val survivors = Similarity.clusterDedup(data, "vec_id", "embedding",
      threshold = 0.999999, cells = 3, iters = 2)
      .as[Long].collect().toSet
    dups.foreach { case (id, _) =>
      assert(!survivors.contains(id), s"exact duplicate $id must be dropped")
    }
    // soundness vs the all-pairs rule: cluster-scoped drops ⊆ exact drops
    // (a cell can only HIDE a pair, never invent one)
    val exactSurvivors = Similarity.cosineDedup(data, "vec_id", "embedding",
      lit(true), threshold = 0.999999).as[Long].collect().toSet
    assert(exactSurvivors.subsetOf(survivors),
      s"cluster dedup dropped ids the exact rule kept: ${exactSurvivors -- survivors}")
  }

  test("int8 quantization: code range, zero-vector guard, reconstruction fidelity") {
    val data = Seq(
      (1L, Seq(3.0f, -1.5f, 0.25f, 2.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),      // zero vector → all-zero codes
      (3L, Seq(-127.0f, 127.0f, 1.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.int8Quantize(data, "vec_id", "embedding")
      .select(col("vid"), col("scale"), col("codes"))
      .as[(Long, Double, Seq[Int])].collect().sortBy(_._1)
    // the max-|x| component always codes to exactly ±127
    assert(q(0)._3 == Seq(127, -64, 11, 85), s"got ${q(0)._3}")
    assert(q(1)._2 == 0.0 && q(1)._3 == Seq(0, 0, 0, 0),
      "zero vector must yield scale 0 and all-zero codes, not 127s")
    assert(q(2)._3.forall(c => c >= -127 && c <= 127))
    assert(q(2)._3.head == -127 && q(2)._3(1) == 127)
    // real corpus: int8 reconstruction keeps cosine ≥ 0.99 for every vector
    val audit = Similarity.int8QuantAudit(
      Tables.embeddings(spark, sf), "vec_id", "embedding")
    val minCos = audit.agg(min(col("cos_recon"))).as[Double].head()
    assert(minCos >= 0.99, s"int8 reconstruction cosine degraded to $minCos")
  }

  test("int8TopK: full overfetch reduces exactly to brute force; k·4 recall measured") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count().toInt
    // overfetch covering the whole corpus → the shortlist filters nothing
    // and the exact re-rank IS brute force (the same reduction property
    // IVFSpec pins for nprobe == cells)
    val full = Similarity.int8TopK(emb, "vec_id", "embedding",
      col("vec_id") % 50 === 0, k = 5, overfetch = n)
      .orderBy("q_id", "rn").collect().toSeq
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      col("vec_id") % 50 === 0, k = 5)
      .orderBy("q_id", "rn").collect().toSeq
    assert(full == brute, "int8 with full overfetch must equal exact top-k")
    // production overfetch: recall of the exact top-5 via the 20-shortlist
    val approx = Similarity.int8TopK(emb, "vec_id", "embedding",
      col("vec_id") % 50 === 0, k = 5, overfetch = 4)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = brute.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.9,
      s"int8 shortlist recall vs exact top-5 degraded to $recall")
  }

  test("knnGraph: ≤k contiguous-rank within-cell edges; exact dups are mutual rank-1") {
    val base = (0 until 60).map { i =>
      val region = i % 3
      (i + 1L, Seq.tabulate(8)(d =>
        (if (d == region * 2) 10.0 else 0.5) + (i / 3) * 0.01 * (d + 1)))
    }
    val dups = Seq((101L, base(0)._2), (102L, base(1)._2))
    val data = (base ++ dups).toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(data, "vec_id", "embedding",
      k = 3, cells = 3, iters = 2)
      .as[(Long, Long, Double, Int)].collect()
    val perNode = g.groupBy(_._1)
    assert(perNode.size == data.count(),
      "every vector has at least one within-cell neighbor in this fixture")
    perNode.values.foreach { edges =>
      assert(edges.length <= 3)
      assert(edges.map(_._4).sorted.toSeq == (1 to edges.length),
        "ranks must be contiguous from 1")
      val sorted = edges.sortBy(_._4)
      assert(sorted.map(_._3).sliding(2).forall(p => p.head >= p.last),
        "cos must be non-increasing in rank")
    }
    // identical vectors share an argmin cell → each is the other's rank-1
    assert(g.exists(e => e._1 == 101L && e._2 == 1L && e._4 == 1))
    assert(g.exists(e => e._1 == 1L && e._2 == 101L && e._4 == 1))
  }

  test("auto blocking switch: below the crossover bit-identical to flat; leaf branch keeps exact-dup guarantees") {
    val emb = Tables.embeddings(spark, sf)
    // below the measured crossover, knnGraphAuto IS the flat autoCells
    // form — the hash-identity the registered s12 relies on
    val auto = Similarity.knnGraphAuto(emb, "vec_id", "embedding", k = 3)
      .orderBy("q_id", "rn").collect().toSeq
    val flat = Similarity.knnGraph(emb, "vec_id", "embedding",
        k = 3, cells = Similarity.autoCells(emb.count()))
      .orderBy("q_id", "rn").collect().toSeq
    assert(auto == flat, "below-crossover auto form must equal the flat form exactly")

    // the leaf branch (forced via crossover=1): exact duplicates share
    // BOTH argmin levels, so they stay mutual rank-1 and still dedup
    val base = (0 until 60).map { i =>
      val region = i % 3
      (i + 1L, Seq.tabulate(8)(d =>
        (if (d == region * 2) 10.0 else 0.5) + (i / 3) * 0.01 * (d + 1)))
    }
    val dups = Seq((101L, base(0)._2), (102L, base(8)._2))
    val data = (base ++ dups).toDF("vec_id", "embedding")
    val g2 = Similarity.knnGraphAuto(data, "vec_id", "embedding",
        k = 3, iters = 2, crossover = 1L)
      .as[(Long, Long, Double, Int)].collect()
    assert(g2.exists(e => e._1 == 101L && e._2 == 1L && e._4 == 1) &&
      g2.exists(e => e._1 == 1L && e._2 == 101L && e._4 == 1),
      "exact dups must stay mutual rank-1 under leaf blocking")
    g2.groupBy(_._1).values.foreach { edges =>
      assert(edges.length <= 3)
      assert(edges.map(_._4).sorted.toSeq == (1 to edges.length))
    }
    val survivors2 = Similarity.clusterDedupAuto(data, "vec_id", "embedding",
        threshold = 0.999999, iters = 2, crossover = 1L)
      .as[Long].collect().toSet
    assert(!survivors2.contains(101L) && !survivors2.contains(102L),
      "exact duplicates must be dropped under leaf blocking")
    // soundness: leaf-scoped drops ⊆ the all-pairs rule's drops
    val exactSurvivors = Similarity.cosineDedup(data, "vec_id", "embedding",
      lit(true), threshold = 0.999999).as[Long].collect().toSet
    assert(exactSurvivors.subsetOf(survivors2),
      s"leaf dedup dropped ids the exact rule kept: ${exactSurvivors -- survivors2}")
    // and the below-crossover dedup equals the graded cells=8 form
    val autoDedup = Similarity.clusterDedupAuto(emb, "vec_id", "embedding",
      threshold = 0.35).orderBy("v_id").collect().toSeq
    val flatDedup = Similarity.clusterDedup(emb, "vec_id", "embedding",
      threshold = 0.35, cells = 8).orderBy("v_id").collect().toSeq
    assert(autoDedup == flatDedup)
  }

  test("rrfHybridTopK: both-lists rank-1 maximizes rrf; single-list items still fuse") {
    // vec 1's nearest by BOTH full and truncated cosine is its duplicate 2
    // → rrf = 2/61 exactly; an item present in only one list contributes
    // only that list's reciprocal (union semantics, not intersection)
    val data = Seq(
      (1L, Seq.fill(64)(1.0f)),
      (2L, Seq.fill(64)(1.0f)),                                 // dup of 1
      (3L, (Seq.fill(32)(1.0f) ++ Seq.fill(32)(-1.0f)).toSeq),  // matches 1 on first 32 dims only
      (4L, Seq.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.rrfHybridTopK(data, "vec_id", "embedding",
        col("vec_id") === 1L, k = 3, depth = 2, dims = 32)
      .select("c_id", "rrf", "rn").as[(Long, Double, Int)]
      .collect().sortBy(_._3).toSeq
    assert(got.head._1 == 2L, s"dup must fuse to rank 1: $got")
    assert(math.abs(got.head._2 - math.floor(2.0 / 61.0 * 1e6) / 1e6) < 1e-9 ||
      math.abs(got.head._2 - (1.0 / 61 + 1.0 / 61)) < 1e-6, s"rrf of dual rank-1: $got")
    // vec 3 ties vec 2 at cos 1.0 in the TRUNCATED list (first 32 dims all
    // 1s) but ranks low in the full list — it must still appear, fused
    assert(got.map(_._1).contains(3L), s"single-list item must fuse in: $got")
  }

  test("degenerate inputs: single-vector corpus yields empty graph, empty audit runs") {
    val one = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    // a 1-vector corpus has no pairs — not an error, an empty edge set
    assert(Similarity.knnGraph(one, "vec_id", "embedding", k = 3, cells = 1, iters = 1)
      .count() == 0)
    assert(Similarity.int8QuantAudit(one, "vec_id", "embedding").count() == 1)
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.int8QuantAudit(empty, "vec_id", "embedding").count() == 0)
    assert(Similarity.int8TopK(empty, "vec_id", "embedding", lit(true), k = 3)
      .count() == 0)
  }

  test("gridNN2d: hand-crafted grid — neighborhood-bounded NN, self excluded") {
    // cellSize 1.0: query (0.5,0.5) sits in cell (0,0). Point 1 shares the
    // cell, point 2 is in neighbor cell (1,0), point 3 is in cell (3,0) —
    // OUTSIDE the 3×3 neighborhood, so it must NOT appear even though k=10
    // would admit it by distance. Point 4 shares coordinates with the query
    // but a different id — kept (only SELF is excluded).
    val pts = Seq(
      (0L, Seq(0.5f, 0.5f)),
      (1L, Seq(0.6f, 0.5f)),
      (2L, Seq(1.4f, 0.5f)),
      (3L, Seq(3.5f, 0.5f)),
      (4L, Seq(0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.gridNN2d(pts, "vec_id", "embedding",
        col("vec_id") === 0, cellSize = 1.0, k = 10)
      .orderBy("rn").as[(Long, Long, Double, Int)].collect().toSeq
    assert(got == Seq((0L, 4L, 0.0, 1), (0L, 1L, 0.01, 2), (0L, 2L, 0.81, 3)),
      s"got $got")
  }

  test("gridNN2d plans as an equi-join on the cell id — never nested-loop") {
    val plan = Similarity.gridNN2d(Tables.embeddings(spark, sf),
        "vec_id", "embedding", col("vec_id") % 50 === 0, cellSize = 0.1, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected hash join:\n$plan")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"grid join degenerated to a nested loop:\n$plan")
  }
  test("topComponent: rank-1 data recovers the exact axis in one step; sign canonicalized") {
    import spark.implicits._
    // points t*(1,2), t in {-1,0,1}: covariance [[2,4],[4,8]] is RANK-1,
    // so C*v is exactly proportional to the eigenvector (1,2)/sqrt(5)
    // after a single mat-vec; all 8 iterations are then fixed points.
    val df = Seq(Tuple1(Array(-1f, -2f)), Tuple1(Array(0f, 0f)),
      Tuple1(Array(1f, 2f))).toDF("embedding")
    val got = graft.ext.Similarity.topComponent(df, col("embedding"))
      .orderBy("dim").select("dim", "loading", "evr")
      .as[(Int, Double, Double)].collect().toSeq
    val s5 = math.sqrt(5.0)
    assert(got.map(_._1) == Seq(1, 2))
    assert(math.abs(got(0)._2 - 1 / s5) < 1e-12 &&
      math.abs(got(1)._2 - 2 / s5) < 1e-12, s"loading $got")
    // rank-1: the top component explains ALL the variance
    assert(got.forall(t => math.abs(t._3 - 1.0) < 1e-12), s"evr $got")

    // axis (1,-2): the largest-|loading| entry (dim 2) must come out
    // POSITIVE, flipping the whole vector's sign
    val df2 = Seq(Tuple1(Array(-1f, 2f)), Tuple1(Array(0f, 0f)),
      Tuple1(Array(1f, -2f))).toDF("embedding")
    val got2 = graft.ext.Similarity.topComponent(df2, col("embedding"))
      .orderBy("dim").select("loading").as[Double].collect().toSeq
    assert(math.abs(got2(0) + 1 / s5) < 1e-12 &&
      math.abs(got2(1) - 2 / s5) < 1e-12, s"sign-fixed $got2")
  }
  test("nearestCentroidEval: separable clusters score 1.0; a mislabeled point lands off-diagonal") {
    import spark.implicits._
    // label 0 near (0,0), label 1 near (10,10); id 5 sits at (10,10)
    // but carries label 0 -> predicted 1, the single off-diagonal cell
    val df = Seq(
      (1L, 0, Array(0f, 0.1f)), (2L, 0, Array(0.1f, 0f)),
      (3L, 1, Array(10f, 10.1f)), (4L, 1, Array(10.1f, 10f)),
      (5L, 0, Array(10f, 10f))).toDF("id", "label", "vec")
    val got = graft.ext.Similarity.nearestCentroidEval(df, col("id"),
        col("label"), col("vec"))
      .orderBy("label", "pred")
      .select("label", "pred", "n", "accuracy")
      .as[(Int, Int, Long, Double)].collect().toSeq
    assert(got.map(t => (t._1, t._2, t._3)) ==
      Seq((0, 0, 2L), (0, 1, 1L), (1, 1, 2L)), s"got $got")
    assert(math.abs(got.head._4 - 0.8) < 1e-12, s"accuracy ${got.head._4}")
  }
  test("s22 embedding stats: per-dim rows, non-negative variance, anisotropy in (0,1]") {
    import spark.implicits._
    val got = SparkEntry.queries("s22_embedding_stats")(spark, sf)
    val rows = got.select("dim", "mu", "var", "anisotropy")
      .as[(Int, Double, Double, Double)].collect()
    assert(rows.map(_._1).toSeq == (1 to 64), "one row per dim, ordered")
    assert(rows.forall(_._3 >= 0.0), "variances non-negative")
    val a = rows.head._4
    assert(rows.forall(_._4 == a) && a > 0.0 && a <= 1.0, s"anisotropy $a")
  }

  test("mutualNN2d: reciprocal pairs only — an NN chain emits just its mutual link") {
    import spark.implicits._
    // p1—p2 are each other's NN (mutual). p3's NN is p2, but p2's NN is
    // p1 → p3 joins no pair. p4 sits in a far cell with an EMPTY 3×3
    // neighborhood → contributes nothing (no NN row at all).
    val pts = Seq(
      (1L, Array(0.010f, 0.010f)), (2L, Array(0.020f, 0.010f)),
      (3L, Array(0.050f, 0.010f)), (4L, Array(0.900f, 0.900f))
    ).toDF("vec_id", "embedding")
    val got = graft.ext.Similarity.mutualNN2d(pts, "vec_id", "embedding",
        cellSize = 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"got $got")
  }

  /** `mutualNN2d` as it was written with a window: number each probe's
    * candidates by (dist2, c_id) and keep the first. */
  private def mutualNN2dWindow(emb: org.apache.spark.sql.DataFrame, cellSize: Double) = {
    import org.apache.spark.sql.expressions.Window
    val pts = emb.select(col("vec_id").as("pid"),
        element_at(col("embedding"), 1).cast("double").as("x"),
        element_at(col("embedding"), 2).cast("double").as("y"))
      .withColumn("gx", floor(col("x") / cellSize).cast("long"))
      .withColumn("gy", floor(col("y") / cellSize).cast("long"))
    val corpus = pts.select(col("pid").as("c_id"), col("x").as("cx"),
      col("y").as("cy"), col("gx").as("cgx"), col("gy").as("cgy"))
    val probes = pts
      .withColumn("dx", explode(lit(Array(-1L, 0L, 1L))))
      .withColumn("dy", explode(lit(Array(-1L, 0L, 1L))))
      .select(col("pid").as("q_id"), col("x").as("qx"), col("y").as("qy"),
        (col("gx") + col("dx")).as("jgx"), (col("gy") + col("dy")).as("jgy"))
    val nn = corpus.join(probes,
        col("cgx") === col("jgx") && col("cgy") === col("jgy") &&
          col("c_id") =!= col("q_id"))
      .withColumn("dist2", round(
        (col("cx") - col("qx")) * (col("cx") - col("qx")) +
          (col("cy") - col("qy")) * (col("cy") - col("qy")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("dist2"), col("c_id"))))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("c_id"), col("dist2"))
    nn.as("l").join(nn.as("r"),
        col("l.q_id") === col("r.c_id") && col("l.c_id") === col("r.q_id") &&
          col("l.q_id") < col("l.c_id"))
      .select(col("l.q_id").as("id_a"), col("l.c_id").as("id_b"),
        col("l.dist2").as("dist2"))
  }

  test("mutualNN2d: the least (dist2, c_id) per probe returns the window form's pairs, ties and short vectors included") {
    graft.core.GraftConf.ensure(spark) // the engine's non-ANSI reads: a 1-element vector has no y
    // 120 ids on a 9×6 lattice 0.01 apart, 2–3 ids a site (exact
    // duplicates tie at dist2 0), and 12 single ids on a 4×3 lattice (up to
    // four neighbours tie at a rounded 1e-4, float noise below 1e-6 aside)
    val dense = (0 until 120).map(i => (i.toLong, Array((i % 9) * 0.01f, (i / 9 % 6) * 0.01f)))
    val sparse = (0 until 12).map(j =>
      (200L + j, Array(0.5f + (j % 4) * 0.01f, 0.5f + (j / 4) * 0.01f)))
    val odd = Seq((1000L, null), (1001L, Array(0.02f)), (1002L, Array.empty[Float]),
      (1003L, Array(0.045f, 0.035f, 9f)), (1004L, Array(0.045f, 0.035f)))
    val pts = (dense ++ sparse ++ odd).toDF("vec_id", "embedding")
    for (cell <- Seq(0.015, 0.05)) {
      val got = Similarity.mutualNN2d(pts, "vec_id", "embedding", cellSize = cell)
      val want = mutualNN2dWindow(pts, cell)
      assert(got.count() > 0 && got.count() == want.count(), s"cell $cell")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"cell $cell")
    }
    // 1003 and 1004 share a site (its 3rd dim ignored): a mutual pair at 0
    assert(Similarity.mutualNN2d(pts, "vec_id", "embedding", cellSize = 0.05)
      .filter(col("id_b") === 1004L).select("id_a", "dist2").as[(Long, Double)]
      .collect().toSeq == Seq((1003L, 0.0)))
  }

  test("silhouetteByLabel: hand-computed rationals on two symmetric clusters") {
    import spark.implicits._
    // label 0: (0,0),(2,0) → centroid (1,0); label 1: (10,0),(12,0) →
    // centroid (11,0). Outer points: a²=1, b²=121 → s=120/121; inner
    // points: a²=1, b²=81 → s=80/81. Mean per label =
    // (⌊120/121·10⁹⌋ + ⌊80/81·10⁹⌋) / 2·10⁹ exactly (the quantized form).
    val pts = Seq(
      (1L, 0, Array(0f, 0f)), (2L, 0, Array(2f, 0f)),
      (3L, 1, Array(10f, 0f)), (4L, 1, Array(12f, 0f))
    ).toDF("vec_id", "label", "embedding")
    val got = graft.ext.Similarity.silhouetteByLabel(pts, col("vec_id"),
        col("label"), col("embedding"))
      .orderBy("label").select("label", "n", "mean_sil")
      .as[(Int, Long, Double)].collect().toSeq
    val exp = (math.floor(120.0 / 121.0 * 1e9) +
      math.floor(80.0 / 81.0 * 1e9)) / 2e9
    assert(got.map(t => (t._1, t._2)) == Seq((0, 2L), (1, 2L)), s"got $got")
    assert(got.forall(_._3 == exp), s"expected $exp, got ${got.map(_._3)}")
  }

  test("binaryTopK: identical vectors share sign bits and rank first; opposite signs repel") {
    // 4-dim toys: v1 == v2 (Hamming 0 → rank 1 at cos 1.0); v3 = −v1
    // (Hamming = #nonzero dims → last shortlist choice)
    val pts = Seq(
      (1L, Array(1f, -1f, 2f, -2f)), (2L, Array(1f, -1f, 2f, -2f)),
      (3L, Array(-1f, 1f, -2f, 2f)), (4L, Array(1f, 1f, 2f, 2f))
    ).toDF("vec_id", "embedding")
    val got = graft.ext.Similarity.binaryTopK(pts, "vec_id", "embedding",
        col("vec_id") === 1, k = 3)
      .orderBy("rn").select("c_id", "cos", "rn")
      .as[(Long, Double, Int)].collect().toSeq
    assert(got.map(_._1) == Seq(2L, 4L, 3L), s"got $got")
    assert(got.head._2 == 1.0 && got.last._2 == -1.0)
  }

  test("binaryTopK recall vs brute force on the real corpus (1 bit/dim, overfetch 8)") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val pred = col("vec_id") % 50 === 0
    val exact = graft.ext.Similarity.bruteForceTopK(emb, "vec_id", "embedding", pred, k = 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val bin = graft.ext.Similarity.binaryTopK(emb, "vec_id", "embedding", pred, k = 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (exact & bin).size.toDouble / exact.size
    // 1-bit sketches are the coarsest member of the family — measured
    // ~0.8+ here; the floor guards against a packing/Hamming bug, which
    // craters recall to ~chance, not against honest quantization loss
    assert(recall >= 0.6, s"binary ANN recall $recall < 0.6")
  }

  test("anisotropyPairs: no self-pairs, O(n) pairs, identical corpus → cos 1") {
    val n = 200
    val emb = (0 until n).map(i => (i.toLong, Seq(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.anisotropyPairs(emb, "vec_id", "embedding",
      buckets = 8).collect()
    assert(pairs.nonEmpty && pairs.length <= n)
    pairs.foreach { r =>
      assert(r.getAs[Long]("id_a") != r.getAs[Long]("id_b"))
      assert(r.getAs[Double]("cos") == 1.0)
    }
    // deterministic across repartitionings
    val again = Similarity.anisotropyPairs(emb.repartition(7), "vec_id",
      "embedding", buckets = 8).collect()
    assert(again.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      pairs.map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("labelFilteredTopK == per-label brute force; every hit satisfies the filter") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val got = Similarity.labelFilteredTopK(emb, "vec_id", "embedding",
        col("vec_id") % 50 === 0, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getInt(4)))
    assert(got.nonEmpty)
    val labelOf = emb.select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the filter HELD for every returned candidate
    got.foreach { case (q, lbl, c, _, _) =>
      assert(labelOf(q) == lbl && labelOf(c) == lbl, s"q=$q c=$c")
    }
    // per query: exactly min(k, same-label candidates) rows — the
    // guarantee post-filtering a global top-k cannot give
    val byQ = got.groupBy(_._1)
    val labelSizes = labelOf.values.groupBy(identity).map { case (l, xs) => l -> xs.size }
    byQ.foreach { case (q, rows) =>
      val avail = labelSizes(labelOf(q)) - 1
      assert(rows.length == math.min(5, avail), s"q=$q got ${rows.length} of $avail")
    }
    // and it matches bruteForceTopK run on the label-restricted corpus
    val lbl0 = labelOf(0L)
    val restricted = Similarity.bruteForceTopK(
        emb.filter(col("label") === lbl0), "vec_id", "embedding",
        col("vec_id") === 0L, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val mine = got.filter(_._1 == 0L).map(t => (t._1, t._3, t._4, t._5))
    assert(mine.toSeq.sortBy(_._4) == restricted.toSeq.sortBy(_._4))
  }

  test("MomentPairs kernel == interpreted HOF chain, incl. null elements") {
    // the r16 native kernel replaced exactly this spelling inside
    // Similarity.topComponent phase 1 — pin bit parity: entry order,
    // 1-based (j, k), (j, 0, xj) first moments, upper-triangle products,
    // null elements poisoning only the entries they touch
    graft.functions.GraftFunctions.register(spark)
    val rows = Seq(
      (1L, Seq(1.5, -2.25, 0.125, 3.0)),
      (2L, Seq(0.1)),
      (3L, Seq[java.lang.Double](2.0, null, 4.0).map(Option(_).map(_.doubleValue).getOrElse(Double.NaN))),
      (4L, Seq.empty[Double])
    ).toDF("id", "v")
    val withNull = rows.withColumn("vv",
      when(col("id") === 3L,
        array(lit(2.0), lit(null).cast("double"), lit(4.0)))
        .otherwise(col("v").cast("array<double>")))
    def hofPairs(vec: org.apache.spark.sql.Column) = {
      val vecD = transform(vec, x => x.cast("double"))
      concat(
        transform(vecD, (xj, j) =>
          struct((j + 1).as("j"), lit(0).as("k"), xj.as("p"))),
        flatten(transform(vecD, (xj, j) =>
          transform(slice(vecD, j + 1, size(vecD) - j), (xk, k0) =>
            struct((j + 1).as("j"), (j + 1 + k0).as("k"),
              (xj * xk).as("p"))))))
    }
    val got = withNull.select(col("id"),
        call_function("graft_moment_pairs", col("vv")).as("m"))
      .orderBy("id").collect().map(_.get(1)).map(String.valueOf).toList
    val want = withNull.select(col("id"), hofPairs(col("vv")).as("m"))
      .orderBy("id").collect().map(_.get(1)).map(String.valueOf).toList
    assert(got == want)
  }

  /** labelDistRows replaced the n*d*L exploded join + decimal-sum
    * shuffle; pin both consumers' outputs bitwise against the verbatim
    * pre-r16 formulations on `emb`. */
  private def assertLabelDistParity(emb: org.apache.spark.sql.DataFrame): Unit = {
    def oldDist(): org.apache.spark.sql.DataFrame = {
      val x = emb.select(col("vec_id").as("rid"), col("label").as("slabel"),
          posexplode(transform(col("embedding"), v => v.cast("double"))))
        .select(col("rid"), col("slabel"), (col("pos") + 1).as("dim"),
          col("col").as("v"))
      val cent = x.groupBy(col("slabel").as("clabel"), col("dim"))
        .agg((sum(col("v").cast("decimal(38,18)")).cast("double") /
          count(lit(1))).as("cv"))
      x.join(broadcast(cent), "dim")
        .groupBy(col("rid"), col("slabel"), col("clabel"))
        .agg(sum(((col("v") - col("cv")) * (col("v") - col("cv")))
          .cast("decimal(38,18)")).cast("double").as("d2"))
    }
    val want = oldDist().collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    // the new path is private; drive it through both public consumers
    val sil = Similarity.silhouetteByLabel(emb, col("vec_id"), col("label"),
      col("embedding"))
    val oldA2 = oldDist().filter(col("clabel") === col("slabel"))
      .select(col("rid"), col("slabel"), col("d2").as("a2"))
    val oldB2 = oldDist().filter(col("clabel") =!= col("slabel"))
      .groupBy(col("rid")).agg(min(col("d2")).as("b2"))
    val oldSil = oldA2.join(oldB2, "rid")
      .withColumn("sil",
        when(greatest(col("a2"), col("b2")) === 0.0, 0.0)
          .otherwise((col("b2") - col("a2")) / greatest(col("a2"), col("b2"))))
      .groupBy(col("slabel").as("label"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("sil") * lit(1e9)).cast("long")).as("sil_q"))
      .withColumn("mean_sil",
        col("sil_q").cast("double") / (col("n").cast("double") * lit(1e9)))
      .drop("sil_q")
    assert(sil.orderBy("label").collect().map(_.toString).toSeq ==
      oldSil.orderBy("label").collect().map(_.toString).toSeq)
    // and the confusion matrix consumer
    val cm = Similarity.nearestCentroidEval(emb, col("vec_id"), col("label"),
      col("embedding"))
    val oldW = org.apache.spark.sql.expressions.Window
      .partitionBy("rid").orderBy(col("d2"), col("clabel"))
    val oldCm0 = oldDist().withColumnRenamed("slabel", "label")
      .withColumn("rn", row_number().over(oldW))
      .filter(col("rn") === 1)
      .groupBy(col("label"), col("clabel").as("pred"))
      .agg(count(lit(1)).as("n"))
    val oldAcc = oldCm0.agg(
      (sum(when(col("label") === col("pred"), col("n")).otherwise(0L))
        .cast("double") / sum(col("n"))).as("accuracy"))
    val oldCm = oldCm0.crossJoin(broadcast(oldAcc))
    assert(cm.orderBy("label", "pred").collect().map(_.toString).toSeq ==
      oldCm.orderBy("label", "pred").collect().map(_.toString).toSeq)
    assert(want.nonEmpty)
  }

  test("SqDistDecimal kernel path == exploded decimal-join chain (s21/s24 distances)") {
    assertLabelDistParity(graft.core.Tables.embeddings(spark, sf))
  }

  test("labelDistRows parity holds with empty (non-null) vectors in the corpus") {
    // the exploded form gives an empty vector no distance rows at all
    val emb = graft.core.Tables.embeddings(spark, sf)
    val empties = emb.filter(col("vec_id") % 7 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000000L)
      .withColumn("embedding", filter(col("embedding"), _ => lit(false)))
    assert(empties.count() > 0)
    assertLabelDistParity(emb.unionByName(empties))
  }

  test("silhouetteByLabel and nearestCentroidEval accept Long and String labels") {
    // the same corpus with its labels re-typed order-preservingly: every
    // result row matches the Int-labeled run with its labels mapped
    val emb = graft.core.Tables.embeddings(spark, sf)
    def run(e: org.apache.spark.sql.DataFrame): (Seq[Seq[Any]], Seq[Seq[Any]]) =
      (Similarity.silhouetteByLabel(e, col("vec_id"), col("label"), col("embedding"))
        .orderBy("label").collect().map(_.toSeq).toSeq,
        Similarity.nearestCentroidEval(e, col("vec_id"), col("label"), col("embedding"))
          .orderBy("label", "pred").collect().map(_.toSeq).toSeq)
    val (sil, cm) = run(emb)
    assert(sil.nonEmpty && cm.nonEmpty)
    def mapped(rows: Seq[Seq[Any]], nLabels: Int, f: Int => Any): Seq[Seq[Any]] =
      rows.map(r => r.take(nLabels).map(l => f(l.asInstanceOf[Int])) ++ r.drop(nLabels))
    val retyped = Seq[(org.apache.spark.sql.Column, Int => Any)](
      (col("label").cast("long") + 5000000000L, _ + 5000000000L),
      (format_string("L%04d", col("label")), l => f"L$l%04d"))
    for ((lbl, f) <- retyped)
      assert(run(emb.withColumn("label", lbl)) == ((mapped(sil, 1, f), mapped(cm, 2, f))))
  }
}
