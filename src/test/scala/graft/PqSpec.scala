package graft

import graft.functions.VectorKernels
import graft.ops.PqQueries
import org.apache.spark.sql.functions._

/** Product quantization: kernel semantics, training determinism, and the
  * q_pq_recall registry invariants (the oracle states the recall floor;
  * the raw search result's structure is asserted here). */
class PqSpec extends SparkSpec {

  private val M = PqQueries.M
  private val K = PqQueries.K

  test("pq kernels: codes in range, encode packs them, ADC sums the LUT") {
    val rnd = new scala.util.Random(42)
    val dim = 128
    val subdim = dim / M
    val cb = Array.fill(M * K * subdim)(rnd.nextGaussian())
    val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val codes = VectorKernels.pqCodes(v, cb, M, K)
    assert(codes.length == M && codes.forall(c => c >= 0 && c < K))
    val packed = VectorKernels.pqEncode(v, cb, M, K)
    assert(packed.toSeq == codes.map(_.toByte).toSeq)
    val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val lut = VectorKernels.pqLut(q, cb, M, K)
    assert(lut.length == M * K)
    val adc = VectorKernels.pqAdc(packed, lut, K)
    val manual = codes.zipWithIndex.map { case (c, sub) => lut(sub * K + c) }
      .foldLeft(0.0)(_ + _)
    assert(adc == manual)
  }

  test("ADC of a vector's own codes approximates its self-cosine (reconstruction)") {
    // encode v, score v's own LUT against its codes: the result is
    // <nv, reconstruction> — positive and bounded by ~1; on the random
    // Gaussian fixture (the PQ-adversarial case) the per-subspace
    // distortion is high, so the bar is a sanity band, not ~1.
    val cb = PqQueries.trainCodebook(spark, sf001)
    val emb = Tables.embeddings(spark, sf001).limit(20).collect()
    val selfs = emb.map { r =>
      val v = r.getAs[Seq[Float]]("embedding").toArray
      val codes = VectorKernels.pqEncode(v, cb, M, K)
      val lut = VectorKernels.pqLut(v, cb, M, K)
      VectorKernels.pqAdc(codes, lut, K)
    }
    selfs.foreach(s => assert(s > 0.0 && s <= 1.01, s"self-ADC $s out of range"))
    assert(selfs.sum / selfs.length > 0.3)
  }

  test("codebook training is bit-deterministic across runs") {
    val a = PqQueries.trainCodebook(spark, sf001)
    val b = PqQueries.trainCodebook(spark, sf001)
    assert(a.toSeq == b.toSeq)
    val dim = Tables.embeddings(spark, sf001)
      .select(size(col("embedding"))).head().getInt(0)
    assert(a.length == M * K * (dim / M))
  }

  test("pqTop3 returns top-3 per query with descending exact scores") {
    val rows = PqQueries.pqTop3(spark, sf001).collect()
    assert(rows.length == 30) // 10 queries x 3
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length == 3)
      val scores = rs.map(_.getDouble(2)).toSeq
      assert(scores == scores.sorted.reverse)
    }
  }

  test("q_pq_recall registry invariants all hold") {
    val r = SparkEntry.queries("q_pq_recall")(spark, sf001).collect().head
    assert(r.getAs[Long]("n_queries") == 10L)
    assert(r.getAs[Long]("results_complete") == 1L)
    assert(r.getAs[Long]("recall_ok") == 1L)
    // testdata embeddings are dim 64 -> 64*4/8 = 32x over float32
    assert(r.getAs[Long]("compression_x") == 32L)
    assert(r.getAs[Double]("exact_mean_top3") > 0.0)
  }

  test("LocalPqIndex ADC search equals a kernel replay over the corpus") {
    val cb = PqQueries.trainCodebook(spark, sf001)
    val rows = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding")).collect()
    val ids = rows.map(_.getLong(0))
    val codes = new Array[Byte](rows.length * M)
    rows.zipWithIndex.foreach { case (r, i) =>
      System.arraycopy(
        VectorKernels.pqEncode(r.getAs[Seq[Float]](1).toArray, cb, M, K),
        0, codes, i * M, M)
    }
    val idx = new store.LocalPqIndex(ids, codes, M, K, cb)
    val q = rows.head.getAs[Seq[Float]](1).toArray
    val got = idx.search(q, 5)
    val lut = VectorKernels.pqLut(q, cb, M, K)
    val expected = rows.map { r =>
      val c = VectorKernels.pqEncode(r.getAs[Seq[Float]](1).toArray, cb, M, K)
      (r.getLong(0), VectorKernels.pqAdc(c, lut, K))
    }.sortBy { case (id, s) => (-s, id) }.take(5).toSeq
    assert(got == expected)
  }

  test("LocalPqIndex gang scan equals the sequential scan (50k synthetic rows)") {
    // big enough that the worker gang engages (count / 2048 > 1); 50,003
    // is not a multiple of the kernel's 4-row interleave
    for (n <- Seq(50000, 50003)) {
      val rnd = new scala.util.Random(11)
      val dim = 64
      val subdim = dim / M
      val cb = Array.fill(M * K * subdim)(rnd.nextGaussian())
      val ids = Array.tabulate(n)(_.toLong)
      val codes = Array.fill(n * M)((rnd.nextInt(K)).toByte)
      val idx = new store.LocalPqIndex(ids, codes, M, K, cb)
      val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val got = idx.search(q, 10)
      val lut = VectorKernels.pqLut(q, cb, M, K)
      val expected = (0 until n).map { r =>
        (r.toLong, VectorKernels.pqAdc(codes.slice(r * M, r * M + M), lut, K))
      }.sortBy { case (id, s) => (-s, id) }.take(10)
      assert(got == expected)
    }
  }

  test("LocalBqIndex gang scan equals a kernel replay (50k synthetic rows)") {
    // big enough that the worker gang engages (count / 2048 > 1); dim 128
    // exercises the 2-word code path the Bench serving replica uses
    val rnd = new scala.util.Random(13)
    val n = 50000
    val dim = 128
    val ids = Array.tabulate(n)(_.toLong)
    val vecs = Array.fill(n)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val idx = store.LocalBqIndex.build(ids, vecs)
    val q = VectorKernels.signPack(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val got = idx.search(q, 10)
    val expected = (0 until n).map { r =>
      (r.toLong, -VectorKernels.hammingPacked(
        VectorKernels.signPack(vecs(r)), q).toDouble)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    assert(got == expected)
  }

  test("compressed row is M bytes (32x vs float32 at the testdata's dim 64)") {
    val cb = PqQueries.trainCodebook(spark, sf001)
    val bytes = Tables.embeddings(spark, sf001)
      .select(functions.VectorOps.pqEncode(col("embedding"), cb, M, K).as("c"))
      .select(length(col("c")).as("n")).distinct().collect()
    assert(bytes.map(_.getInt(0)).toSeq == Seq(M))
  }

  test("lloydStep aggregate is bit-identical to the posexplode formulation") {
    val emb = Tables.embeddings(spark, sf001)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val subdim = dim / M
    // seed codebook (iters=0 returns the init), then one step both ways
    val seed = PqQueries.trainCodebookOn(emb, 0, None)
    val sample = emb.select(col("embedding"))
    val viaAgg = PqQueries.lloydStep(sample, seed, subdim)
    val viaExplode = PqQueries.lloydStepExplode(sample, seed, subdim)
    assert(viaAgg.toSeq == viaExplode.toSeq)
    // and a second step from the updated codebook (exercises warm state)
    val viaAgg2 = PqQueries.lloydStep(sample, viaAgg, subdim)
    val viaExplode2 = PqQueries.lloydStepExplode(sample, viaExplode, subdim)
    assert(viaAgg2.toSeq == viaExplode2.toSeq)
  }

  test("OPQ: learned rotation is orthogonal and norm-preserving") {
    val (rot, _) = PqQueries.trainOpq(spark, sf001)
    val dim = math.sqrt(rot.length).toInt
    // R R^T = I to machine precision
    for (i <- 0 until dim; j <- 0 until dim) {
      var acc = 0.0
      for (t <- 0 until dim) acc += rot(i * dim + t) * rot(j * dim + t)
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(acc - expect) < 1e-12, s"RR^T[$i,$j] = $acc")
    }
    // and the codegen'd rotate kernel preserves L2 norms (float rounding)
    val v = Array.tabulate(dim)(i => (math.sin(i + 1) * 2).toFloat)
    val rv = VectorKernels.rotateFloat(v, rot)
    assert(math.abs(VectorKernels.l2norm(rv) - VectorKernels.l2norm(v)) < 1e-4)
  }

  test("OPQ training is bit-deterministic across runs") {
    val (r1, c1) = PqQueries.trainOpq(spark, sf001)
    val (r2, c2) = PqQueries.trainOpq(spark, sf001)
    assert(r1.toSeq == r2.toSeq)
    assert(c1.toSeq == c2.toSeq)
  }

  test("q_opq_recall registry invariants all hold (incl. error no-regress)") {
    val r = SparkEntry.queries("q_opq_recall")(spark, sf001).collect().head
    assert(r.getAs[Long]("n_queries") == 10L)
    assert(r.getAs[Long]("results_complete") == 1L)
    assert(r.getAs[Long]("recall_ok") == 1L)
    assert(r.getAs[Long]("opq_err_ok") == 1L)
    assert(r.getAs[Long]("compression_x") == 32L)
    assert(r.getAs[Double]("exact_mean_top3") > 0.0)
  }

  test("parametric OPQ: orthogonal rotation, deterministic, invariants hold") {
    val (rot, cb) = PqQueries.trainOpqParametric(spark, sf001)
    val dim = math.sqrt(rot.length).toInt
    // permuted-eigenvector matrix is orthogonal to machine precision
    for (i <- 0 until dim; j <- 0 until dim) {
      var acc = 0.0
      for (t <- 0 until dim) acc += rot(i * dim + t) * rot(j * dim + t)
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(acc - expect) < 1e-12, s"RR^T[$i,$j] = $acc")
    }
    // closed-form training is bit-deterministic (exact covariance inputs
    // + LAPACK on the same matrix)
    val (r2, c2) = PqQueries.trainOpqParametric(spark, sf001)
    assert(rot.toSeq == r2.toSeq)
    assert(cb.toSeq == c2.toSeq)
    val r = SparkEntry.queries("q_opqp_recall")(spark, sf001).collect().head
    assert(r.getAs[Long]("n_queries") == 10L)
    assert(r.getAs[Long]("results_complete") == 1L)
    assert(r.getAs[Long]("recall_ok") == 1L)
    assert(r.getAs[Long]("opqp_err_ok") == 1L)
    assert(r.getAs[Long]("compression_x") == 32L)
  }

  test("pqReconstruct concatenates the coded centroids; pqError is its residual") {
    val rnd = new scala.util.Random(7)
    val dim = 64
    val subdim = dim / M
    val cb = Array.fill(M * K * subdim)(rnd.nextGaussian())
    val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val codes = VectorKernels.pqCodes(v, cb, M, K)
    val rec = VectorKernels.pqReconstruct(v, cb, M, K)
    for (sub <- 0 until M; i <- 0 until subdim)
      assert(rec(sub * subdim + i) == cb((sub * K + codes(sub)) * subdim + i))
    val nv = VectorKernels.normalizeD(v)
    val manual = nv.zip(rec).map { case (a, b) => (a - b) * (a - b) }.sum
    assert(math.abs(VectorKernels.pqError(v, cb, M, K) - manual) < 1e-12)
  }

  test("bqTop3 is deterministic, top-3 per query, descending exact scores") {
    val rows = PqQueries.bqTop3(spark, sf001).collect()
    assert(rows.length == 30) // 10 queries x 3
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length == 3)
      val scores = rs.map(_.getDouble(2)).toSeq
      assert(scores == scores.sorted.reverse)
    }
    // training-free path: a second run must be bit-identical
    val again = PqQueries.bqTop3(spark, sf001).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("q_bq_recall registry invariants all hold (1-bit compression = 32x at dim 64)") {
    val r = SparkEntry.queries("q_bq_recall")(spark, sf001).collect().head
    assert(r.getAs[Long]("n_queries") == 10L)
    assert(r.getAs[Long]("results_complete") == 1L)
    assert(r.getAs[Long]("recall_ok") == 1L)
    // dim 64 floats = 256 bytes -> one 8-byte sign word = 32x
    assert(r.getAs[Long]("compression_x") == 32L)
    assert(r.getAs[Double]("exact_mean_top3") > 0.0)
  }
}
