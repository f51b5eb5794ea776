package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Product quantization: encode determinism, ADC quality on clustered
  * data (where PQ's contract holds), k-means vs head codebooks, and
  * persisted-serving equality. */
class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Planted clustered vectors (the annIvfRecall shape): one-hot cluster
    * direction (vec_id % 8) + bounded deterministic noise — cluster
    * structure PQ codebooks can actually capture. */
  private def planted = {
    graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"))
      .withColumn("embedding",
        transform(sequence(lit(1), lit(64)), j =>
          when(j === pmod(col("vec_id"), lit(8)) + 1, lit(1.0))
            .otherwise(lit(0.0)) +
          (pmod(col("vec_id") * 37 + j * 11, lit(101)).cast("double")
            / 337.0 - 0.15)))
      .filter(Pq.l2Norm(col("embedding")) > 0)
  }

  /** The oracle: the composed-built-ins encode (m×k
    * aggregate-over-zip_with distances + a k-struct sort_array per
    * subspace) that [[Pq.encode]]'s native expression replaced. */
  private def encodeHof(corpus: DataFrame, idCol: String,
      mvCol: String, cb: Pq.Codebooks): DataFrame = {
    val codeCols = (0 until cb.m).map { s =>
      val sub = slice(col(mvCol), s * cb.subDim + 1, cb.subDim)
      val entries = (0 until cb.k).map { c =>
        struct(Pq.subDist(sub, cb.books(s)(c)).as("d"), lit(c).as("c"))
      }
      sort_array(array(entries: _*)).getItem(0).getField("c")
    }
    corpus.select(col(idCol).as("id"), array(codeCols: _*).as("codes"))
  }

  private def micro = planted
    .select(col("vec_id"), Pq.microNormalized(col("embedding")).as("mv"))

  private def recallAt5(cb: Pq.Codebooks): Double = {
    val m = micro
    val codes = Pq.encode(m, "vec_id", "mv", cb)
    val queries = m.filter(col("vec_id") < 16)
    val adc = Pq.adcTopK(codes, queries, cb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = Ann.bruteForceTopK(planted, planted.filter(col("vec_id") < 16),
        k = 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor")))
      .toSet
    adc.intersect(exact).size.toDouble / exact.size
  }

  test("native encode is element-identical to the HOF form on real " +
      "sf0.001 embeddings and on planted vectors (incl. ties)") {
    // real data: the actual gate corpus at sf0.001
    val real = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(Pq.l2Norm(col("embedding")) > 0)
      .select(col("vec_id"), Pq.microNormalized(col("embedding")).as("mv"))
    for (src <- Seq(real, micro)) {
      val cb = Pq.trainHead(src, "vec_id", "mv", m = 8, k = 16)
      val nat = Pq.encode(src, "vec_id", "mv", cb).collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1))).sortBy(_._1).toSeq
      val hof = encodeHof(src, "vec_id", "mv", cb).collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1))).sortBy(_._1).toSeq
      assert(nat == hof)
    }
    // duplicated codewords force exact distance ties in every subspace:
    // both forms must resolve to the smallest code
    val m0 = micro
    val cbDup = {
      val c = Pq.trainHead(m0, "vec_id", "mv", m = 8, k = 2)
      c.copy(books = c.books.map(b => Array(b(0), b(0))))
    }
    val natTie = Pq.encode(m0, "vec_id", "mv", cbDup).collect()
      .map(r => r.getSeq[Int](1))
    assert(natTie.forall(_.forall(_ == 0)))
    val hofTie = encodeHof(m0, "vec_id", "mv", cbDup).collect()
      .map(r => r.getSeq[Int](1))
    assert(hofTie.forall(_.forall(_ == 0)))
  }

  test("encode emits one in-range code per subspace, deterministically") {
    val m = micro
    val cb = Pq.trainHead(m, "vec_id", "mv", m = 8, k = 16)
    val codes = Pq.encode(m, "vec_id", "mv", cb).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(codes.forall(_._2.length == 8))
    assert(codes.forall(_._2.forall(c => c >= 0 && c < 16)))
    val again = Pq.encode(micro, "vec_id", "mv", cb).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(codes.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("ADC recall on clustered data (PQ's contract) clears 0.8 for " +
      "both trainers") {
    // On data WITH cluster structure 32-bit codes preserve neighborhoods
    // (measured: k-means 0.95, head 0.975 here); on the raw unclustered
    // embeddings both collapse to ~0.22 — quantization loss is a data
    // property, which is exactly what q_ann_pq_recall measures and why
    // production raises m/k (code bits) for unclustered corpora.
    val km = Pq.trainKMeans(micro, "vec_id", "mv", m = 8, k = 16)
    val head = Pq.trainHead(micro, "vec_id", "mv", m = 8, k = 16)
    val rKm = recallAt5(km)
    val rHead = recallAt5(head)
    assert(rKm >= 0.8, s"k-means PQ recall@5 $rKm on planted clusters")
    assert(rHead >= 0.8, s"head PQ recall@5 $rHead on planted clusters")
  }

  test("IVF-PQ equals flat ADC at full probe; cell pruning keeps recall " +
      "on clustered data") {
    import org.apache.spark.sql.functions.transform
    val m = micro
    val cb = Pq.trainHead(m, "vec_id", "mv", m = 8, k = 16)
    val codes = Pq.encode(m, "vec_id", "mv", cb)
    val ivf = Ivf.build(m.select(col("vec_id"),
      transform(col("mv"), x => x.cast("double")).as("embedding")), k = 8)
    val cells = codes.join(ivf.assigned.select(col("id"), col("cell")),
      Seq("id"))
    val queries = m.filter(col("vec_id") < 16)
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // full probe == flat scan, bit for bit
    assert(res(Pq.adcTopKCells(cells, ivf.centroids, queries, cb, k = 5,
        nProbe = 8))
      == res(Pq.adcTopK(codes, queries, cb, k = 5)))
    // probing 2/8 cells on clustered data keeps >= 80% of the flat
    // ADC's top-5 (the planted clusters align with k-means cells)
    val flat = res(Pq.adcTopK(codes, queries, cb, k = 5))
      .map(t => (t._1, t._3)).toSet
    val pruned = res(Pq.adcTopKCells(cells, ivf.centroids, queries, cb,
        k = 5, nProbe = 2)).map(t => (t._1, t._3)).toSet
    assert(pruned.intersect(flat).size >= (flat.size * 8) / 10,
      s"pruned recall ${pruned.intersect(flat).size}/${flat.size}")
  }

  test("persisted PQ index serves bit-identical ADC results") {
    val m = micro
    val cb = Pq.trainHead(m, "vec_id", "mv", m = 8, k = 16)
    val st = new graft.pipeline.Store(spark,
      s"/tmp/graft_ss/p${ProcessHandle.current().pid}/pq_spec_${System.nanoTime()}")
    Pq.buildPersisted(st, "pq", m, "vec_id", "mv", cb)
    val (cbL, codesL) = Pq.load(st, "pq")
    assert(cbL.m == cb.m && cbL.k == cb.k && cbL.subDim == cb.subDim)
    assert(cbL.books.flatten.flatten.toSeq == cb.books.flatten.flatten.toSeq)
    val queries = m.filter(col("vec_id") < 16)
    def res(codes: org.apache.spark.sql.DataFrame, b: Pq.Codebooks) =
      Pq.adcTopK(codes, queries, b, k = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3))).sortBy(t => (t._1, t._2)).toSeq
    assert(res(codesL, cbL) == res(Pq.encode(m, "vec_id", "mv", cb), cb))
  }
}
