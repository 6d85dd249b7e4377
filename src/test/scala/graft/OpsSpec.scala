package graft

import java.io.ByteArrayInputStream
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import graft.ops.{Dedup, Multimodal, Similarity}
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import scala.jdk.CollectionConverters._

  private def docsDf = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val data = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
      (2L, "completely different content about spark engines"),
      (3L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 0
      (4L, "unrelated short text"),
    ).map { case (i, t) => org.apache.spark.sql.Row(i, t) }
    spark.createDataFrame(data.asJava, schema)
  }

  test("exactDedup keeps lowest id per duplicate group") {
    val kept = Dedup.exactDedup(docsDf, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(0L, 1L, 2L, 4L)) // 3 deduped against 0
  }

  test("dedupAgainstIndex: exact and near hits against a saved index, novel pass through") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedup_idx").toString
    // index docs 0 and 2; increment: 3 = exact copy of 0, 1 = near-dup of 0,
    // 4 = novel
    // bands = 8 (2-row bands) like the pairs test: the tiny fixture's ~0.75
    // Jaccard pair needs narrow bands to collide
    Dedup.saveDedupIndex(docsDf.where("doc_id IN (0, 2)"), "text", "doc_id", path,
      k = 16, bands = 8)
    val got = Dedup.dedupAgainstIndex(
        docsDf.where("doc_id IN (1, 3, 4)"), "text", "doc_id", path)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) "" else r.getString(2))).toSeq
    assert(got == Seq((1L, 0L, "near"), (3L, 0L, "exact"), (4L, -1L, "")))
  }

  test("appendDedupIndex: appended docs are visible to later dedup runs") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedup_app").toString
    Dedup.saveDedupIndex(docsDf.where("doc_id = 2"), "text", "doc_id", path,
      k = 16, bands = 8)
    // doc 3 (exact copy of 0) is novel against {2} ...
    val before = Dedup.dedupAgainstIndex(docsDf.where("doc_id = 3"), "text", "doc_id",
      path).head
    assert(before.isNullAt(1))
    // ... then doc 0 is appended and 3 becomes an exact dup of it
    Dedup.appendDedupIndex(docsDf.where("doc_id = 0"), "text", "doc_id", path)
    val after = Dedup.dedupAgainstIndex(docsDf.where("doc_id = 3"), "text", "doc_id",
      path).head
    assert(after.getLong(1) == 0L && after.getString(2) == "exact")
  }

  test("minhashPairs finds near-dup and exact-dup pairs, not unrelated ones") {
    val pairs = Dedup.minhashPairs(docsDf, "text", "doc_id", k = 16, bands = 8, threshold = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L))) // exact dup always collides
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("nearDedupCorpus collapses near-dup components to the lowest id") {
    val kept = Dedup.nearDedupCorpus(docsDf, "text", "doc_id", k = 16, bands = 8,
      threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(0L, 2L, 4L)) // {0,1,3} collapse to 0; 2 and 4 survive
  }

  test("nearDedupCorpus Bloom-prefiltered verification matches the direct path") {
    // the r16 large-scale branch pre-filters the corpus with a Bloom filter
    // over candidate ids before the text-attach joins; it must be
    // result-identical to the small-scale direct shape (false positives only
    // admit extra rows to exact id equi-joins). Force it on with floor=1.
    val floorKey = "spark.graft.nearDedup.bloomFloor"
    val prev = spark.conf.getOption(floorKey)
    spark.conf.set(floorKey, "1")
    try {
      val kept = Dedup.nearDedupCorpus(docsDf, "text", "doc_id", k = 16, bands = 8,
        threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(kept == Seq(0L, 2L, 4L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(floorKey, v)
        case None => spark.conf.unset(floorKey)
      }
    }
  }

  test("nearDedupCorpus verify join: shuffle-hash only while a partition's texts fit the budget") {
    import Dedup.VerifyJoin._
    val (bcMax, parts) = (1000L, 4)
    // few candidates: never worth a broadcast
    assert(Dedup.verifyJoin(nCand = 1, nTxt = 1, txtBytes = 100, bcMax, parts) == ShuffleHash)
    assert(Dedup.verifyJoin(nCand = 1000, nTxt = 1, txtBytes = 100, bcMax, parts) == Broadcast)
    // the boundary: txtBytes / partitions == bcMax, then one byte more per partition
    assert(Dedup.verifyJoin(1, 1, parts * bcMax, bcMax, parts) == ShuffleHash)
    assert(Dedup.verifyJoin(1, 1, parts * (bcMax + 1), bcMax, parts) == Planner)
    assert(Dedup.verifyJoin(1, 1, 2 * parts * bcMax, bcMax, 2 * parts) == ShuffleHash)
  }

  test("semanticDedup: planted copies resolve greedily to the smallest id") {
    Graft.install(spark)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    def vec(seed: Int) =
      Array.tabulate(64)(i => (math.sin(seed * 64 + i) * 0.5).toFloat)
    val rows = Seq(
      1L -> vec(1), 2L -> vec(2), 3L -> vec(3),
      10L -> vec(1),               // exact copy of 1
      11L -> vec(1).updated(0, vec(1)(0) + 1e-4f), // near copy of 1
      12L -> vec(2),               // exact copy of 2
    ).map { case (i, v) => org.apache.spark.sql.Row(i, v.toSeq) }
    val corpus = spark.createDataFrame(rows.asJava, schema)
    val out = Dedup.semanticDedup(corpus, "vec_id", "embedding", nPlanes = 6, tau = 0.99)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out(1L) == -1L && out(2L) == -1L && out(3L) == -1L)
    assert(out(10L) == 1L && out(11L) == 1L && out(12L) == 2L)
    assert(out.size == 6)
  }

  test("simhashPairs: exact dup at distance 0; hamming sane") {
    val pairs = Dedup.simhashPairs(docsDf, "text", "doc_id", maxDist = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs(( 0L, 3L)) == 0)
    assert(pairs.get((0L, 1L)).forall(_ > 0))
  }

  test("ngram_jaccard: identical -> 1, disjoint -> 0") {
    val r = spark.sql(
      "SELECT ngram_jaccard('a b c d', 'a b c d', 2), ngram_jaccard('a b c', 'x y z', 2)")
      .collect().head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("pq: sampled vectors reconstruct exactly; codes deterministic and in range") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    val rows = (0L until 40L).map { i =>
      org.apache.spark.sql.Row(i,
        Array.tabulate(16)(j => ((i * 16 + j) % 23).toFloat / 23f).toSeq)
    }
    val emb = spark.createDataFrame(rows.asJava, schema)
    val cb = graft.ops.Similarity.pqCodebook(emb, m = 4, nCodes = 8)
    assert(cb.length == 4 && cb(0).length == 8 && cb(0)(0).length == 4)
    val enc = graft.ops.Similarity.pqEncode(emb, cb)
    val codes = enc.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(codes.size == 40)
    codes.values.foreach(cs => assert(cs.length == 4 && cs.forall(c => c >= 0 && c < 8)))
    // a sampled vector's subvectors ARE codebook entries -> it encodes to its
    // own sample index in every subspace and reconstructs exactly (sim 1)
    assert(codes(3L).forall(_ == 3.toByte))
    val queries = emb.where("vec_id = 3")
      .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
    val top = graft.ops.Similarity.pqTopK(enc, cb, queries, 3)
      .orderBy("rank").collect()
    assert(top.head.getLong(1) == 3L)
    assert(math.abs(top.head.getDouble(top.head.fieldIndex("sim")) - 1.0) < 1e-12)
    // determinism across invocations
    val codes2 = graft.ops.Similarity.pqEncode(emb, cb)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(codes == codes2)
  }

  test("pqCodebook refine: Lloyd never increases distortion; refine=0 is the sampled init") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vecs = emb.select("embedding").collect().map(_.getSeq[Float](0).toArray)
    def distortion(cb: Array[Array[Array[Float]]]): Double = {
      val m = cb.length; val w = cb(0)(0).length
      vecs.iterator.map { v =>
        (0 until m).map { s =>
          cb(s).map { cent =>
            (0 until w).map { j =>
              val t = v(s * w + j).toDouble - cent(j).toDouble; t * t
            }.sum
          }.min
        }.sum
      }.sum / vecs.length
    }
    val cb0 = graft.ops.Similarity.pqCodebook(emb, m = 8, nCodes = 16)
    val d0 = distortion(cb0)
    val d2 = distortion(graft.ops.Similarity.pqCodebook(emb, m = 8, nCodes = 16, refine = 2))
    val d4 = distortion(graft.ops.Similarity.pqCodebook(emb, m = 8, nCodes = 16, refine = 4))
    // Lloyd is monotone in the quantization objective (fixed-point rounding
    // gives the epsilon); on real embeddings it must strictly improve on
    // the first-16-by-id sample
    assert(d2 <= d0 + 1e-6 && d4 <= d2 + 1e-6, s"distortion $d0 -> $d2 -> $d4")
    assert(d2 < d0 * 0.99, s"refinement did not move: $d0 -> $d2")
    // refine = 0 (the default) is exactly the old deterministic sample
    val again = graft.ops.Similarity.pqCodebook(emb, m = 8, nCodes = 16, refine = 0)
    assert(cb0.flatten.flatten.toSeq == again.flatten.flatten.toSeq)
    // refined codebooks are themselves deterministic (integer partials)
    val r2a = graft.ops.Similarity.pqCodebook(emb, m = 8, nCodes = 16, refine = 2)
    val r2b = graft.ops.Similarity.pqCodebook(emb, m = 8, nCodes = 16, refine = 2)
    assert(r2a.flatten.flatten.toSeq == r2b.flatten.flatten.toSeq)
  }

  test("ivfPq at full probe equals pq over the whole corpus") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    val rows = (0L until 60L).map { i =>
      org.apache.spark.sql.Row(i,
        Array.tabulate(16)(j => (((i * 37 + j * 11) % 29).toFloat - 14f) / 14f).toSeq)
    }
    val emb = spark.createDataFrame(rows.asJava, schema)
    val cb = graft.ops.Similarity.pqCodebook(emb, m = 4, nCodes = 8)
    val queries = emb.where("vec_id < 3")
      .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(t => (t._1, t._3)).toSeq
    val pq = rs(graft.ops.Similarity.pqTopK(
      graft.ops.Similarity.pqEncode(emb, cb), cb, queries, 5))
    val ivfpq = rs(graft.ops.Similarity.ivfPqTopK(
      emb, queries, 5, cb, nCells = 4, nprobe = 4, iters = 2))
    assert(pq == ivfpq)
    // pruned probe returns a subset of cells' candidates, still ranked
    val pruned = rs(graft.ops.Similarity.ivfPqTopK(
      emb, queries, 5, cb, nCells = 4, nprobe = 1, iters = 2))
    assert(pruned.nonEmpty && pruned.size <= pq.size)
  }

  test("cosine_sim: identity 1, orthogonal 0") {
    val r = spark.sql(
      """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))),
        |       cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)))""".stripMargin)
      .collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12 && r.getDouble(1) == 0.0)
  }

  test("lshTopK recall vs brute force on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where("vec_id < 3").selectExpr("vec_id AS q_id", "embedding AS q_embedding")
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, queries, 5, bits = 4)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every query must at least find itself (cos=1, same bucket by definition)
    assert((0 until 3).forall(q => approx.contains((q.toLong, q.toLong))))
    // recall is approximate; require non-trivial overlap
    assert((exact intersect approx).size >= 5)
  }

  test("AutoBits default: omitted bits resolve by the occupancy rule") {
    // the rule itself at the scales that matter
    assert(Similarity.autoBits(1000000L) == 18)               // 1M/2^18 ≈ 4
    assert(Similarity.autoBits(1000000L, targetOccupancy = 8L) == 17)
    assert(Similarity.autoBits(0L) == 8)                      // minBits floor
    assert(Similarity.autoBits(Long.MaxValue) == 61)          // 2^63/2^61 ≈ 4
    // a default call resolves bits from the corpus count — on this small
    // corpus the rule floors at 8, so results match explicit bits = 8
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val left = emb.where("vec_id % 11 = 0")
      .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("q_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSet
    assert(rs(Similarity.lshJoinTopK(left, emb, 3)) ==
      rs(Similarity.lshJoinTopK(left, emb, 3, bits = 8)))
    // explicit bits are still validated
    intercept[IllegalArgumentException] {
      Similarity.lshJoinTopK(left, emb, 3, bits = 63)
    }
  }

  test("lshJoinTopK: big-big join finds self-matches, multi-probe only adds candidates") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val left = emb.where("vec_id % 7 = 0")
      .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
    val nLeft = left.count()
    val joined = Similarity.lshJoinTopK(left, emb, 3, bits = 5)
    // every left row IS a corpus row: its own bucket holds an exact copy,
    // so rank 1 must be a sim ~= 1.0 hit for every left id
    val self = joined.where("rank = 1 AND sim >= 0.999999").count()
    assert(self == nLeft, s"self-matches $self of $nLeft")
    // each (left, right) pair meets at most once: candidate sets per q_id
    // contain no duplicate vec_ids even under multi-probe
    assert(joined.groupBy("q_id", "vec_id").count().where("count > 1").count() == 0L)
    // single-probe results are a subset of multi-probe results at the same k
    // only for the candidate SETS, not the top-k cut — compare rank-1 hits
    val single = Similarity.lshJoinTopK(left, emb, 3, bits = 5, multiProbe = false)
      .where("rank = 1").select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = joined.where("rank = 1").select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // rank-1 under multi-probe is at least as similar: the self-match is in
    // both candidate sets, so both must pick a sim-1.0 row — identical here
    assert(single == multi)
  }

  test("lshJoinTopKMulti: union of tables dedups pairs and beats one table's recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val left = emb.where("vec_id % 7 = 0")
      .selectExpr("vec_id AS q_id", "embedding AS q_embedding")
    val nLeft = left.count()
    val multi = Similarity.lshJoinTopKMulti(left, emb, 3, bits = 5, tables = 4)
    // table 0's buckets alone guarantee the exact copy is a candidate
    assert(multi.where("rank = 1 AND sim >= 0.999999").count() == nLeft)
    // pairs meeting in several tables must collapse to one row
    assert(multi.groupBy("q_id", "vec_id").count().where("count > 1").count() == 0L)
    // recall@3 vs brute force: the 4-table union can only add candidates
    // relative to table 0 alone, so its overlap with the exact top-3 is >=
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, left, 3))
    val one = pairs(Similarity.lshJoinTopKMulti(left, emb, 3, bits = 5, tables = 1))
    val four = pairs(multi)
    assert((exact intersect four).size >= (exact intersect one).size,
      s"4-table recall ${(exact intersect four).size} < 1-table ${(exact intersect one).size}")
    // tables = 1 is exactly single-probe lshJoinTopK (table 0 == the
    // un-seeded hyperplane set)
    val singleProbe = pairs(Similarity.lshJoinTopK(left, emb, 3, bits = 5, multiProbe = false))
    assert(one == singleProbe)
  }

  test("ANN join guards: missing conventions and reserved columns fail loudly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val left = emb.selectExpr("vec_id AS q_id", "embedding AS q_embedding")
    intercept[IllegalArgumentException] {
      Similarity.lshJoinTopK(left.withColumnRenamed("q_id", "id"), emb, 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.lshJoinTopK(left.withColumn("bucket", org.apache.spark.sql.functions.lit(1L)), emb, 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.lshJoinTopKMulti(left, emb.withColumn("__t", org.apache.spark.sql.functions.lit(0)), 3)
    }
    // small-left broadcast contract of the prebucketed twin: an over-cap
    // probe batch fails loudly instead of OOMing the driver mid-broadcast...
    val bucketed = Similarity.bucketCorpus(emb, bits = 5)
    val e = intercept[IllegalArgumentException] {
      Similarity.lshJoinTopKPrebucketed(left, bucketed, 3, bits = 5,
        maxProbeRows = 12) // cap of 2 left rows after the x(5+1) expansion
    }
    assert(e.getMessage.contains("too big to broadcast"))
    // ...while broadcastLeft=false takes the shuffled path with no cap
    assert(Similarity.lshJoinTopKPrebucketed(left, bucketed, 3, bits = 5,
      broadcastLeft = false).where("rank = 1 AND sim >= 0.999999").count() == left.count())
  }

  test("autoBits: occupancy-rule sizing for the LSH joins") {
    // 1M rows at target occupancy 4 -> 18 bits (floor(1M/2^18)=3 <= 4)
    assert(Similarity.autoBits(1000000L, targetOccupancy = 4L) == 18)
    assert(Similarity.autoBits(1000000L, targetOccupancy = 4L, minBits = 20) == 20)
    // small corpora stay at the floor; growth raises bits logarithmically
    assert(Similarity.autoBits(100L) == 8)
    assert(Similarity.autoBits(100000000L) == 25) // floor(1e8/2^25)=2 <= 4
    assert(Similarity.autoBits(0L) == 8)
    // occupancy after sizing is within target (the rule's contract)
    for (rows <- Seq(1000L, 123456L, 10000000L, 5000000000L)) {
      val b = Similarity.autoBits(rows)
      assert(rows >> b <= 4L, s"rows=$rows bits=$b occ=${rows >> b}")
    }
  }

  test("int8 quantization: 4x smaller codes, near-exact recall, self-retrieval") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where("vec_id < 3").selectExpr("vec_id AS q_id", "embedding AS q_embedding")
    val qz = Similarity.quantizeInt8(emb).select("vec_id", "codes", "q_scale")
    // codes stay within int8 range
    val bad = qz.selectExpr("explode(codes) AS c").where("c < -127 OR c > 127").count()
    assert(bad == 0L)
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.quantizedTopK(qz, queries, 5)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // int8 dequantized cosine is a tight approximation: every query finds
    // itself and overlap with the exact top-5 is near-total
    assert((0 until 3).forall(q => approx.contains((q.toLong, q.toLong))))
    assert((exact intersect approx).size >= 12, s"overlap ${(exact intersect approx).size}/15")
  }

  test("ivfTopK: self-retrieval and overlap with exact top-k") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where("vec_id < 3").selectExpr("vec_id AS q_id", "embedding AS q_embedding")
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, 5, nCells = 8, nprobe = 3)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 3).forall(q => ivf.contains((q.toLong, q.toLong)))) // finds itself
    assert((exact intersect ivf).size >= 5) // non-trivial recall
  }

  test("ivfAppend: increment is one pass, existing files untouched, search sees both halves") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("ivf_app").toString
    Similarity.ivfSave(emb.where("vec_id % 2 = 0"), path, nCells = 8)
    def files() = new java.io.File(s"$path/assigned").listFiles()
      .filter(_.getName.startsWith("cell=")).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet")).map(f => f.getPath -> f.lastModified()).toMap
    val before = files()
    val centroidsBefore = spark.read.parquet(s"$path/centroids")
      .collect().map(_.toString).sorted.toSeq
    Similarity.ivfAppend(spark, path, emb.where("vec_id % 2 = 1"))
    // incremental: every pre-existing data file survives byte-identical
    // (same path, same mtime) — append never rewrites the indexed corpus
    val after = files()
    assert(before.forall { case (p, m) => after.get(p).contains(m) },
      "append rewrote existing index files")
    assert(after.size > before.size, "append added no files")
    // centroids are NOT re-trained by an append (rebuild is explicit)
    val centroidsAfter = spark.read.parquet(s"$path/centroids")
      .collect().map(_.toString).sorted.toSeq
    assert(centroidsAfter == centroidsBefore)
    // and the search surface sees the union exactly
    assert(spark.read.parquet(s"$path/assigned").count() == emb.count())
    val queries = emb.where("vec_id < 3").selectExpr("vec_id AS q_id", "embedding AS q_embedding")
    val viaIndex = Similarity.ivfSearchSaved(spark, path, queries, 5, nprobe = 8)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == brute)
  }

  test("saved IVF index: full-probe search equals fresh search; partitions pruned") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where("vec_id < 3").selectExpr("vec_id AS q_id", "embedding AS q_embedding")
    val path = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    Similarity.ivfSave(emb, path, nCells = 8)
    // full probe over the saved index must equal a fresh full-probe search
    val saved = Similarity.ivfSearchSaved(spark, path, queries, 5, nprobe = 8)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fresh = Similarity.ivfTopK(emb, queries, 5, nCells = 8, nprobe = 8)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(saved == fresh)
    // the assigned corpus is laid out one directory per cell (the unit of
    // pruning for narrow probes)
    val cellDirs = new java.io.File(s"$path/assigned").listFiles()
      .filter(_.getName.startsWith("cell=")).length
    assert(cellDirs > 1)
    // a narrow probe must PRUNE: the scan's literal partition filter admits
    // only the probed cells, and the planner reports fewer partitions read
    val narrow = Similarity.ivfSearchSaved(spark, path, queries.limit(1), 5, nprobe = 2)
    val scans = narrow.queryExecution.sparkPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.getOrElse("Location", "").contains("assigned") => f
    }
    assert(scans.nonEmpty, "expected a file scan over the assigned index")
    val scan = scans.head
    assert(scan.partitionFilters.exists(_.references.map(_.name).toSeq.contains("cell")),
      s"no partition filter on cell: ${scan.partitionFilters}")
    assert(scan.relation.location.inputFiles.length > 0)
    val selected = scan.selectedPartitions.partitionCount
    assert(selected <= 2, s"probe of 2 cells read $selected partitions")
  }

  test("multimodal: real JDK codecs — PNG header/pixels/resize, WAV duration") {
    import Multimodal.JdkCodec
    // header-only meta recovers planted dims from a real PNG
    val png = JdkCodec.synthPng(37, 21, 0x102030, 0x405060)
    assert(png.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    assert(JdkCodec.imageMeta(png) == ((37, 21, "png")))
    // pixel stats: left 18 columns (0x10,0x20,0x30), right 19 (0x40,0x50,0x60)
    val (sr, sg, sb, mnR, mxR) = JdkCodec.pixelStats(png)
    assert(sr == (0x10L * 18 + 0x40L * 19) * 21, s"sum_r $sr")
    assert(sg == (0x20L * 18 + 0x50L * 19) * 21 && sb == (0x30L * 18 + 0x60L * 19) * 21)
    assert(mnR == 0x10 && mxR == 0x40)
    // bilinear resize of a SOLID image stays exactly solid (fixed-point
    // weights sum to 1) and lands on the aspect arithmetic
    val solid = JdkCodec.synthPng(100, 40, 0x7F0000, 0x7F0000)
    val rz = JdkCodec.resizeMaxEdge(solid, 32)
    assert(JdkCodec.imageMeta(rz) == ((32, 12, "png")))
    val (rsr, _, _, rmn, rmx) = JdkCodec.pixelStats(rz)
    assert(rmn == 0x7F && rmx == 0x7F && rsr == 0x7FL * 32 * 12)
    // JPEG readers are registered too (imageMeta is container-agnostic)
    locally {
      val img = new java.awt.image.BufferedImage(5, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      val (w, h, fmt) = JdkCodec.imageMeta(bos.toByteArray)
      assert(w == 5 && h == 7 && fmt.startsWith("jp"), s"$w x $h $fmt")
    }
    // WAV: header-parsed duration = frames / rate
    assert(JdkCodec.audioDurationMs(JdkCodec.synthWav(4410, 44100)) == 100L)
    // full sample decode: stats over the real PCM bytes equal the ramp's
    // closed-form replay (v_i = ((i % 2048) - 1024)·16)
    locally {
      val n = 3000
      val vs = (0 until n).map(i => ((i % 2048) - 1024) * 16)
      val (gn, peak, sumSq) = JdkCodec.audioStats(JdkCodec.synthWav(n, 8000))
      assert(gn == n.toLong)
      assert(peak == vs.map(math.abs).max)
      assert(sumSq == vs.map(v => v.toLong * v).sum)
      // big-endian AIFF of the same samples must decode identically
      val fmtBe = new AudioFormat(8000f, 16, 1, true, true)
      val data = new Array[Byte](n * 2)
      vs.zipWithIndex.foreach { case (v, i) =>
        data(2 * i) = ((v >> 8) & 0xff).toByte; data(2 * i + 1) = (v & 0xff).toByte
      }
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new ByteArrayInputStream(data), fmtBe, n.toLong),
        AudioFileFormat.Type.AIFF, bos)
      assert(JdkCodec.audioStats(bos.toByteArray) == ((n.toLong, peak, sumSq)))
    }
    // SQL surface end-to-end through mapPartitions feature extraction
    val df = docsDf.selectExpr("doc_id",
      "png_synth(CAST(9 + doc_id % 5 AS INT), CAST(6 + doc_id % 3 AS INT), 0) AS payload")
    val feats = Multimodal.extractImageFeatures(df, "payload")
    assert(feats.columns.toSeq == Seq("doc_id", "payload", "width", "height", "format"))
    val r = feats.where("doc_id = 2").select("width", "height", "format").collect().head
    assert(r.getInt(0) == 11 && r.getInt(1) == 8 && r.getString(2) == "png")
    // frame sampling over a real WAV duration, rows stream lazily
    val frames = spark.sql(
      "SELECT t.value FROM (SELECT media_duration_ms(wav_synth(3500, 1000)) AS d) " +
        "LATERAL VIEW frame_sample(d, 1000) t AS value")
      .collect().map(_.getLong(0)).toSeq
    assert(frames == Seq(0L, 1000L, 2000L, 3000L))
  }

  test("multimodal: audioStats decodes u8/s16/s24 WAV sample-exactly; others fail loudly") {
    import graft.ops.Multimodal.JdkCodec
    val n = 700
    def expect(bits: Int): (Long, Int, Long) = {
      val vs = (0 until n).map { i =>
        bits match {
          case 8  => (i % 256) - 128
          case 16 => ((i % 2048) - 1024) * 16
          case _  => ((i % 2048) - 1024) * 4096
        }
      }
      (n.toLong, vs.map(math.abs).max, vs.map(v => v.toLong * v).sum)
    }
    for (bits <- Seq(8, 16, 24)) {
      val got = JdkCodec.audioStats(JdkCodec.synthWav(n, 8000, bits))
      assert(got == expect(bits), s"$bits-bit: $got vs ${expect(bits)}")
      // header-based duration is depth-independent
      assert(JdkCodec.audioDurationMs(JdkCodec.synthWav(800, 8000, bits)) == 100L)
    }
    // unsupported shapes fail loudly, never decode with a wrong convention
    // (the JDK WAVE writer silently converts s8 to u8, so 32-bit signed —
    // which it writes verbatim — is the guard fixture)
    val ex = intercept[IllegalArgumentException] {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 32, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(new Array[Byte](16)), fmt, 4L)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      JdkCodec.audioStats(bos.toByteArray)
    }
    assert(ex.getMessage.contains("u8/s16/s24"), ex.getMessage)
  }

  test("multimodal: pixelStatsBatch drives pixel decode through the batch tier") {
    val df = spark.range(10).selectExpr("id AS doc_id",
      s"png_synth_2tone(CAST(8 + id AS INT), 4, ${0x0A0000}, ${0x140000}) AS payload")
    val out = Multimodal.pixelStatsBatch(df, "payload", batchSize = 4)
      .selectExpr("doc_id", "stats.sum_r AS sum_r", "stats.min_r AS mn", "stats.max_r AS mx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    out.foreach { case (id, sumR, mn, mx) =>
      val w = 8 + id.toInt; val wl = w / 2
      assert(sumR == (0x0AL * wl + 0x14L * (w - wl)) * 4, s"doc $id")
      assert(mn == 0x0A && mx == 0x14)
    }
  }

  test("batched kernel: column-at-a-time evaluation with chunk boundaries") {
    import org.apache.spark.sql.types.LongType
    val df = spark.range(2500).selectExpr("id", "id % 7 AS b") // not a multiple of 1024
    val out = graft.functions.BatchUdf.withBatchColumn(df, "s", Seq("id", "b"), LongType,
      batchSize = 1024) { cols =>
      val ids = cols(0); val bs = cols(1)
      Array.tabulate[Any](ids.length)(i =>
        ids(i).asInstanceOf[Long] * 2 + bs(i).asInstanceOf[Long])
    }
    assert(out.count() == 2500)
    val bad = out.where("s != id * 2 + b").count()
    assert(bad == 0)
  }

  test("asof join: ties, matches, and no-match nulls") {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val lSchema = StructType(Seq(StructField("k", IntegerType), StructField("t", LongType),
      StructField("lid", IntegerType)))
    val rSchema = StructType(Seq(StructField("k", IntegerType), StructField("t", LongType),
      StructField("rid", IntegerType), StructField("v", StringType)))
    val left = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1, 10L, 100), // after r1, before r2
      org.apache.spark.sql.Row(1, 20L, 101), // exactly at r2 -> matches r2
      org.apache.spark.sql.Row(1, 5L, 102),  // before everything -> null
      org.apache.spark.sql.Row(2, 50L, 103), // key with two same-time rows -> max rid wins
      org.apache.spark.sql.Row(3, 50L, 104), // key with no right rows -> null
    ).asJava, lSchema)
    val right = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1, 8L, 1, "r1"),
      org.apache.spark.sql.Row(1, 20L, 2, "r2"),
      org.apache.spark.sql.Row(2, 40L, 3, "r3a"),
      org.apache.spark.sql.Row(2, 40L, 4, "r3b"),
    ).asJava, rSchema)
    val out = graft.plans.AsofJoin.asof(left, right, "k", "k", "t", "t", "rid", Seq("rid", "v"))
      .collect().map(r => (r.getInt(2), if (r.isNullAt(3)) null else r.get(3))).toMap
    assert(out(100) == 1)
    assert(out(101) == 2)  // <= semantics: equal time matches
    assert(out(102) == null)
    assert(out(103) == 4)  // tie on time -> greatest tiebreak
    assert(out(104) == null)
  }

  test("bucketedIntervalJoin ≡ brute-force overlap, exactly once per pair") {
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(13)
    // spans up to 10× the bucket width so many pairs share several buckets —
    // the first-shared-bucket dedup must still emit each pair exactly once
    val mk = (n: Int) => (0 until n).map { i =>
      val lo = rnd.nextInt(200).toLong
      (i.toLong, (i % 3).toLong, lo, lo + rnd.nextInt(50))
    }
    val ls = mk(40); val rs = mk(40)
    val schema = (p: String) => StructType(Seq(
      StructField(p + "id", LongType, nullable = false),
      StructField(p + "k", LongType, nullable = false),
      StructField(p + "lo", LongType, nullable = false),
      StructField(p + "hi", LongType, nullable = false)))
    val ldf = spark.createDataFrame(
      ls.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3, t._4)).asJava, schema("l"))
    val rdf = spark.createDataFrame(
      rs.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3, t._4)).asJava, schema("r"))
    val got = graft.plans.RangeJoin.bucketedIntervalJoin(ldf, rdf,
        "lk", "rk", "llo", "lhi", "rlo", "rhi", bucketWidth = 5L)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = for {
      (li, lk, llo, lhi) <- ls; (ri, rk, rlo, rhi) <- rs
      if lk == rk && llo <= rhi && rlo <= lhi
    } yield (li, ri)
    // exactly once: compare as multisets
    assert(got.sorted == want.sorted,
      s"got ${got.size} pairs (${got.distinct.size} distinct), want ${want.size}")
  }

  test("bucketedIntervalJoin: identical bound names on both sides (the natural call shape)") {
    import org.apache.spark.sql.types._
    // both sides name their bounds 'lo'/'hi' and key 'k' — post-join
    // predicates must be side-qualified or analysis fails as ambiguous
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("k", LongType, nullable = false),
      StructField("lo", LongType, nullable = false),
      StructField("hi", LongType, nullable = false)))
    val ls = Seq((1L, 1L, 0L, 10L), (2L, 1L, 20L, 30L), (3L, 2L, 0L, 5L))
    val rs = Seq((10L, 1L, 8L, 25L), (11L, 2L, 6L, 9L))
    val ldf = spark.createDataFrame(
      ls.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3, t._4)).asJava, schema)
    val rdf = spark.createDataFrame(
      rs.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3, t._4)).asJava, schema)
    val got = graft.plans.RangeJoin.bucketedIntervalJoin(ldf, rdf,
        "k", "k", "lo", "hi", "lo", "hi", bucketWidth = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(4))).toSet
    // overlaps: (1,[0,10])x(10,[8,25]) and (2,[20,30])x(10,[8,25]); key 2 pair [0,5]x[6,9] misses
    assert(got == Set((1L, 10L), (2L, 10L)))
  }
}
