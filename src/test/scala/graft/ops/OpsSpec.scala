package graft.ops

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Properties of the training-data ops: approximate paths (MinHash-LSH,
  * SimHash, embedding LSH, IVF) are checked against their exact baselines on
  * the deterministic testdata — recall floors chosen with margin below the
  * observed values so the suites stay stable. */
class OpsSpec extends SparkSpec {
  private val dir = sfDir("0.01")
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$dir/embeddings.parquet")

  /** `n` deterministically-perturbed copies of an embeddings frame — the
    * corpus-scaling fixture for storage ratios. The perturbation is
    * PER-DIMENSION: SQ8 codes are invariant under affine maps `x → a·x + b`
    * (vmin/vmax rescale with the data), so pure-scale copies would emit
    * identical code words that dictionary-collapse and fake the ratio. */
  private def perturbedCopies(embs: org.apache.spark.sql.DataFrame, n: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): org.apache.spark.sql.DataFrame =
    embs.sparkSession.range(n).crossJoin(embs).select(
      (col(idCol) + col("id") * 1000000L).as(idCol),
      transform(col(vecCol), (x, i) =>
        (x * (lit(1.0f) + col("id").cast("float") * (i.cast("float") + lit(1.0f))
          / lit(2048.0f))).cast("float")).as(vecCol))

  /** Total bytes of regular files under `p` (on-disk footprint). */
  private def dirBytes(p: Path): Long = {
    val w = Files.walk(p)
    try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally w.close()
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH near-dups: no false positives (verified) and high recall vs exact") {
    val exact = pairSet(DedupOps.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.6))
    val lsh = pairSet(DedupOps.minhashNearDups(docs, "text", "doc_id", 3, 4, 2, 0.6))
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(lsh.subsetOf(exact), "verify step must remove sub-threshold candidates")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall too low (found ${lsh.size}/${exact.size})")
  }

  test("simhash near-dups: deterministic and aligned with high-jaccard pairs") {
    val a = pairSet(DedupOps.simhashNearDups(docs, "text", "doc_id", 3))
    val b = pairSet(DedupOps.simhashNearDups(docs, "text", "doc_id", 3))
    assert(a == b, "simhash must be deterministic")
    assert(a.nonEmpty)
    val exact09 = pairSet(DedupOps.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.9))
    val overlap = a.intersect(exact09).size.toDouble / math.max(1, exact09.size)
    assert(overlap >= 0.5, s"simhash should find most jaccard≥0.9 pairs, got $overlap")
  }

  test("embedding LSH pairs: subset of brute-force pairs at same threshold, decent recall") {
    // exact pairs at cos >= 0.5 via brute force over all ids
    val ids = embs.select("vec_id").collect().map(_.getLong(0))
    val bf = Similarity.bruteForceTopK(embs, ids.toSeq, k = 5)
      .filter(col("cos") >= 0.5)
      .select(least(col("query_id"), col("neighbor_id")).as("id1"),
        greatest(col("query_id"), col("neighbor_id")).as("id2"))
    val exact = bf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = pairSet(Similarity.lshNearPairs(embs, 0.5, nBits = 8, tables = 8))
    assert(lsh.forall { case (i, j) => i < j })
    if (exact.nonEmpty) {
      val recall = lsh.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.5, s"embedding LSH recall $recall (found ${lsh.size}, exact ${exact.size})")
    }
  }

  test("IVF top-k: recall vs brute force on probe queries") {
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    val bf = Similarity.bruteForceTopK(embs, qs, 3).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(embs, qs, 3, nLists = 16, nprobe = 4)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.4, s"IVF recall@3 = $recall")
    assert(ivf.size == bf.size) // same k returned
  }

  test("multimodal feature extraction: batch shape, determinism, metadata") {
    val media = Multimodal.synthMedia(docs)
    val feats = Multimodal.extractFeatures(spark, media, dim = 16).collect()
    assert(feats.length == docs.count())
    assert(feats.forall(_.features.length == 16))
    assert(feats.filter(_.kind == "video").forall(_.frames >= 1))
    val again = Multimodal.extractFeatures(spark, media, dim = 16).collect()
    assert(feats.sortBy(_.doc_id).zip(again.sortBy(_.doc_id))
      .forall { case (x, y) => x.features.sameElements(y.features) && x.frames == y.frames })
  }

  test("rolling hash and fingerprint: deterministic, whitespace-normalization semantics") {
    import spark.implicits._
    val df = Seq((1L, "hello  world foo"), (2L, "hello world\tfoo"), (3L, "different words here"))
      .toDF("doc_id", "text")
    val fp = df.select(col("doc_id"), TextOps.fingerprintMd5(col("text")).as("f")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(2L)) // normalized equal
    assert(fp(1L) != fp(3L))
    val rh = df.select(col("doc_id"), TextOps.rollingHash(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rh(1L) == rh(2L) && rh(1L) != rh(3L))
  }

  test("persisted IVF index: partition-pruned probes, results == in-memory IVF") {
    val dir = tmpDir("ivf-idx").resolve("index").toString
    Similarity.writeIvfIndex(embs, dir, nLists = 16)
    val viaIndex = Similarity.ivfTopKIndexed(spark, dir,
      queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 3, nprobe = 4)
    val inMemory = Similarity.ivfTopK(embs,
      queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 3, nLists = 16, nprobe = 4)
    assert(viaIndex.collect().map(_.toString).sorted
      .sameElements(inMemory.collect().map(_.toString).sorted))
    // probing is a PARTITION-pruned read: the candidate scan's plan carries
    // partition filters on `list`, so unprobed lists' files are never opened
    val cands = spark.read.parquet(dir).filter(col("list").isin(0, 1))
    val scan = cands.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("list"), scan.take(500))
  }

  test("incremental IVF: frozen-codebook append == in-memory assignment; external-query probe pruned") {
    val dir = tmpDir("ivf-inc").resolve("index").toString
    val half1 = embs.filter(col("vec_id") % 2 === 0)
    val half2 = embs.filter(col("vec_id") % 2 === 1)
    Similarity.writeIvfIndex(half1, dir, nLists = 16)
    Similarity.appendToIvfIndex(half2, dir)

    // external-query probe (the new batch BEFORE it was appended would be
    // the production flow; querying it afterwards exercises the same path)
    val queries = embs.filter(col("vec_id").isin(1L, 3L, 5L))
    val viaIndex = Similarity.ivfTopKForVectors(spark, dir, queries, k = 3, nprobe = 4)

    // in-memory reference with the SAME frozen codebook over ALL vectors
    val cents = Similarity.readIvfCentroids(dir)
    val assignedAll = Similarity.assignToCentroids(embs, cents, "vec_id", "embedding")
    val qs = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("probe", explode(graft.functions.VecFns.probeLists(
        col("qv"), typedLit(cents.sortBy(_._1).flatMap(_._2).toSeq), cents.length, 4)))
    val ref = assignedAll
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"), col("list"))
      .join(broadcast(qs), col("list") === col("probe") && col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(Similarity.cosine(col("qv"), col("nv")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    val refTop = ref.withColumn("rank", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
    assert(viaIndex.collect().map(_.toString).sorted
      .sameElements(refTop.collect().map(_.toString).sorted))

    // the probe scan stays partition-pruned after appends
    val plan = Similarity.ivfTopKForVectors(spark, dir, queries, 3, 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list#"), plan.take(800))
  }

  test("SQ8 IVF index: exact re-rank matches the raw index; ~4x smaller probe payload") {
    val rawDir = tmpDir("ivf-raw").resolve("index").toString
    val sq8Dir = tmpDir("ivf-sq8").resolve("index").toString
    Similarity.writeIvfIndex(embs, rawDir, nLists = 16)
    Similarity.writeIvfIndexSq8(embs, sq8Dir, nLists = 16)

    // same codebook (same seeding + Lloyd pass over the same rows), so the
    // two indexes probe the same lists
    assert(Similarity.readIvfCentroids(rawDir).map(_._2.toSeq).toSeq ==
      Similarity.readIvfCentroids(sq8Dir).map(_._2.toSeq).toSeq)

    // exact re-rank: the SQ8 path's final top-k equals the raw index's —
    // approximate cosine only selects the pool, never scores the answer
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val raw = Similarity.ivfTopKIndexed(spark, rawDir, qids, k = 3, nprobe = 4)
    val sq8 = Similarity.ivfTopKIndexedSq8(spark, sq8Dir, embs, qids, k = 3, nprobe = 4)
    assert(sq8.collect().map(_.toString).sorted
      .sameElements(raw.collect().map(_.toString).sorted))

    // the probe-scan payload (what every query reads) is ~3.4x smaller:
    // codes are byte-per-dim vs 4-byte floats (snappy + per-vector min/max
    // eat the rest of the naive 4x). 500 rows over 16 list files is all
    // parquet framing, so measure on a 20x deterministically-perturbed
    // corpus (perturbedCopies — per-dimension, or SQ8's affine
    // invariance would dictionary-collapse the codes and fake the ratio)
    val big = perturbedCopies(embs, 20)
    val bigRaw = tmpDir("ivf-raw-big").resolve("index").toString
    val bigSq8 = tmpDir("ivf-sq8-big").resolve("index").toString
    Similarity.writeIvfIndex(big, bigRaw, nLists = 16)
    Similarity.writeIvfIndexSq8(big, bigSq8, nLists = 16)
    val ratio = dirBytes(java.nio.file.Paths.get(bigRaw)).toDouble /
      dirBytes(java.nio.file.Paths.get(bigSq8))
    assert(ratio >= 2.5, f"SQ8 index must be far smaller than raw (got $ratio%.2f x)")

    // incremental appends follow the index's recorded quantization and the
    // frozen-codebook result still matches the raw twin built the same way
    val h1 = embs.filter(col("vec_id") % 2 === 0)
    val h2 = embs.filter(col("vec_id") % 2 === 1)
    val rawInc = tmpDir("ivf-raw-inc").resolve("index").toString
    val sq8Inc = tmpDir("ivf-sq8-inc").resolve("index").toString
    Similarity.writeIvfIndex(h1, rawInc, nLists = 16)
    Similarity.appendToIvfIndex(h2, rawInc)
    Similarity.writeIvfIndexSq8(h1, sq8Inc, nLists = 16)
    Similarity.appendToIvfIndex(h2, sq8Inc)
    val rawI = Similarity.ivfTopKIndexed(spark, rawInc, qids, k = 3, nprobe = 4)
    val sq8I = Similarity.ivfTopKIndexedSq8(spark, sq8Inc, embs, qids, k = 3, nprobe = 4)
    assert(sq8I.collect().map(_.toString).sorted
      .sameElements(rawI.collect().map(_.toString).sorted))

    // retrain cadence on an SQ8 index demands the raw source (training on
    // decoded codes would compound quantization error into the codebook)
    intercept[IllegalArgumentException] {
      Similarity.maybeRebuildIvfIndex(spark, sq8Inc, growthFactor = 0.5)
    }
    val rebuilt = Similarity.maybeRebuildIvfIndex(spark, sq8Inc,
      growthFactor = 0.5, source = Some(embs))
    assert(rebuilt.isDefined, "cadence must fire: appended half >= 0.5x trained half")
    // rebuild == from-scratch SQ8 index over the same rows, bit for bit
    val scratch = tmpDir("ivf-sq8-scratch").resolve("index").toString
    Similarity.writeIvfIndexSq8(embs, scratch, nLists = 16)
    val a = Similarity.ivfTopKIndexedSq8(spark, sq8Inc, embs, qids, k = 3, nprobe = 4)
    val b = Similarity.ivfTopKIndexedSq8(spark, scratch, embs, qids, k = 3, nprobe = 4)
    assert(a.collect().map(_.toString).sorted.sameElements(b.collect().map(_.toString).sorted))
  }

  test("sharded centroid literal: assignment and probes equal the single-literal path") {
    // force sharding: budget of 3 centroids' worth of doubles per literal →
    // a 16-list codebook splits into 6 shards (none exceeding the budget)
    val dim = embs.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val single = Similarity.ivfTopK(embs, queryIds = Seq(0L, 1L, 2L, 3L, 4L),
      k = 3, nLists = 16, nprobe = 4).collect().map(_.toString).sorted
    val (assignedSingle, cents) = Similarity.ivfAssign(embs, nLists = 16)
    val singleAssign = assignedSingle.select("vec_id", "list")
      .collect().map(_.toString).sorted
    val prev = Similarity.MaxCentroidLiteralDoubles
    Similarity.MaxCentroidLiteralDoubles = 3 * dim
    try {
      val shards = Similarity.centShards(cents)
      assert(shards.size == 6, s"expected 6 shards, got ${shards.size}")
      assert(shards.forall(_._2.length * dim <= 3 * dim), "a shard exceeds the literal budget")
      assert(shards.map(_._2.length).sum == 16)
      val shardAssign = Similarity.assignToCentroids(embs, cents, "vec_id", "embedding")
        .select("vec_id", "list").collect().map(_.toString).sorted
      assert(shardAssign.sameElements(singleAssign), "sharded assignment diverged")
      val sharded = Similarity.ivfTopK(embs, queryIds = Seq(0L, 1L, 2L, 3L, 4L),
        k = 3, nLists = 16, nprobe = 4).collect().map(_.toString).sorted
      assert(sharded.sameElements(single), "sharded probe top-k diverged")
    } finally Similarity.MaxCentroidLiteralDoubles = prev
  }

  test("IVF rebuild retrains a drifted index: recall restored to the from-scratch value") {
    import spark.implicits._
    // 4-mode cluster A (axes 0..3) trains the codebook, so its centroids ≈
    // the four modes. Drifted cluster B (axis 4 dominant, appended frozen)
    // scatters across those lists by its SMALL mode-aligned components —
    // while a pure-axis-4 QUERY's own assignment is decided by centroid
    // noise, decoupled from where its true neighbors (all of B, whose
    // mutual cosine ≈ 0.96 regardless of sub-mode) actually landed. An
    // nprobe=1 probe therefore reads one list holding ~¼ of B.
    def vA(i: Int): Array[Float] =
      Array.tabulate(8)(d => (if (d == i % 4) 10f else 0f) + ((i * 31 + d * 7) % 5) * 0.1f)
    def vB(i: Int): Array[Float] =
      Array.tabulate(8)(d => (if (d == 4) 10f else 0f) +
        (if (d == i % 4) 2f else 0f) + (if (d == 5) (i % 13) * 0.01f else 0f))
    val a = (0L until 60L).map(i => (i, vA(i.toInt)))
    val b = (100L until 160L).map(i => (i, vB(i.toInt)))
    val toDF = (s: Seq[(Long, Array[Float])]) => s.toDF("vec_id", "embedding")
    val dir = tmpDir("ivf-rebuild").resolve("index").toString
    Similarity.writeIvfIndex(toDF(a), dir, nLists = 4)
    Similarity.appendToIvfIndex(toDF(b), dir)

    // external drifted queries; exact reference = exhaustive probe (nprobe
    // == nLists reads every list — brute force over the same index rows)
    val queries = toDF((900L until 905L).map(q =>
      (q, Array.tabulate(8)(d => (if (d == 4) 10f else 0f) +
        (if (d == 6) (q - 900L) * 0.01f else 0f)))))
    def recallAt10(): Double = {
      def top(nprobe: Int) = Similarity.ivfTopKForVectors(spark, dir, queries,
        k = 10, nprobe = nprobe).select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val (got, want) = (top(1), top(4))
      (got & want).size.toDouble / want.size
    }
    val before = recallAt10()
    assert(before < 0.8, s"drift construction failed to scatter B (before=$before)")

    Similarity.rebuildIvfIndex(spark, dir, nLists = 4)
    val after = recallAt10()
    assert(after > before, s"rebuild must improve drifted recall (before=$before after=$after)")

    // rebuild == from-scratch over the same rows, bit for bit (same seeded
    // train over the same ids), so results equal the from-scratch index's
    val scratch = tmpDir("ivf-scratch").resolve("index").toString
    Similarity.writeIvfIndex(toDF(a ++ b), scratch, nLists = 4)
    val fromScratch = Similarity.ivfTopKForVectors(spark, scratch, queries, k = 10, nprobe = 1)
      .collect().map(_.toString).sorted
    val rebuilt = Similarity.ivfTopKForVectors(spark, dir, queries, k = 10, nprobe = 1)
      .collect().map(_.toString).sorted
    assert(rebuilt.sameElements(fromScratch), "rebuild must equal a from-scratch index")
  }

  test("IVF retrain cadence: maybeRebuild fires once appends exceed the trained corpus") {
    import spark.implicits._
    def vec(i: Long): Array[Float] =
      Array.tabulate(8)(d => (if (d == (i % 4).toInt) 10f else 0f) + ((i * 31 + d * 7) % 5) * 0.1f)
    val toDF = (s: Seq[Long]) => s.map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val dir = tmpDir("ivf-cadence").resolve("index").toString

    Similarity.writeIvfIndex(toDF(0L until 40L), dir, nLists = 4)
    val m0 = Similarity.readTrainMeta(dir).get
    assert(m0.trainedRows == 40L && m0.appendedRows == 0L && m0.nLists == 4)

    // below threshold: 30 appended < 1.0 × 40 trained — cheap no-op
    Similarity.appendToIvfIndex(toDF(100L until 130L), dir)
    assert(Similarity.readTrainMeta(dir).get.appendedRows == 30L)
    assert(Similarity.maybeRebuildIvfIndex(spark, dir).isEmpty)
    assert(Similarity.readTrainMeta(dir).get.appendedRows == 30L, "no-op must not touch meta")

    // crossing threshold: 45 ≥ 40 — rebuild fires and resets the counter
    Similarity.appendToIvfIndex(toDF(200L until 215L), dir)
    assert(Similarity.maybeRebuildIvfIndex(spark, dir).isDefined)
    val m1 = Similarity.readTrainMeta(dir).get
    assert(m1.trainedRows == 85L && m1.appendedRows == 0L,
      s"rebuild must retrain over all 85 rows and reset the drift counter ($m1)")
    assert(m1.nLists == 4 && m1.seed == m0.seed && m1.md5Seeding == m0.md5Seeding,
      "rebuild must preserve the index's training parameters")

    // the rebuilt index equals a from-scratch one over the same rows
    val scratch = tmpDir("ivf-cadence-scratch").resolve("index").toString
    Similarity.writeIvfIndex(toDF((0L until 40L) ++ (100L until 130L) ++ (200L until 215L)),
      scratch, nLists = 4)
    val queries = toDF(900L until 903L)
    def top(d: String) = Similarity.ivfTopKForVectors(spark, d, queries, k = 5, nprobe = 2)
      .collect().map(_.toString).sorted
    assert(top(dir).sameElements(top(scratch)), "cadence rebuild must equal from-scratch")

    // pre-meta index (created before provenance existed): appends work,
    // cadence declines to judge
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_train_meta.json"))
    Similarity.appendToIvfIndex(toDF(300L until 310L), dir)
    assert(Similarity.maybeRebuildIvfIndex(spark, dir).isEmpty)
    assert(Similarity.readTrainMeta(dir).isEmpty)
  }

  test("viral-boilerplate bucket cap bounds candidate generation (hot-bucket defense)") {
    import spark.implicits._
    // 400 identical boilerplate docs + the real corpus: uncapped, the
    // boilerplate band buckets would emit ~400²/2 candidate pairs per band
    val boiler = (100000L until 100400L)
      .map(id => (id, "lorem ipsum boilerplate text repeated verbatim on every mirror page"))
      .toDF("doc_id", "text")
    val mixed = docs.select(col("doc_id"), col("text")).unionByName(boiler)

    // observability: the hot bucket is visible and has the expected size
    val sigs = DedupOps.withMinhashes(
      boiler.select(col("doc_id").as("id"), col("text").as("txt")), "txt", 3, 8)
    val keys = sigs.select(col("id"), col("mh0"))
    val top = DedupOps.bucketSizeStats(keys, Seq("mh0")).head()
    assert(top.getLong(top.length - 1) == 400L)

    // capped: the 400-doc buckets are dropped; genuine corpus near-dups
    // (bucket sizes ≪ cap) are still found
    val exact = pairSet(DedupOps.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.6))
    val capped = pairSet(DedupOps.minhashNearDups(mixed, "text", "doc_id", 3, 4, 2, 0.6,
      maxBucketSize = 100))
    assert(capped.forall { case (a, b) => a < 100000L && b < 100000L },
      "boilerplate bucket must be dropped by the cap")
    val recall = capped.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"cap must not hurt normal-bucket recall ($recall)")

    // df ceiling on the exact path bounds the inverted-index fan-out the
    // same way (hot shingle with df=400 would emit df² join rows)
    val cappedExact = pairSet(DedupOps.ngramJaccardPairs(mixed, "text", "doc_id", 3, 0.6,
      maxDf = 100))
    assert(cappedExact.forall { case (a, b) => a < 100000L && b < 100000L })
  }

  test("minhash LSH at-scale plan: signature pipeline computed once (exchange reuse)") {
    // tiny inputs get broadcast self-joins, where each side recomputes the
    // band-key pipeline (cheap there). At scale both sides SHUFFLE on
    // (band,bucket) — disable broadcast to get that shape — and AQE's
    // exchange reuse must dedupe the expensive tokenize+shingle+minhash
    // kernel pass to exactly one execution.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val nd = DedupOps.minhashNearDups(docs, "text", "doc_id", 3, 4, 2, 0.6,
        maxBucketSize = 100)
      nd.collect() // materialize THIS queryExecution so AQE finalizes stages
      val plan = nd.queryExecution.executedPlan.toString
      assert("ReusedExchange \\[[^\\]]*band".r.findFirstIn(plan).isDefined,
        s"band-key exchange must be reused, not recomputed:\n${plan.take(1500)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("caps derived from a corpus sample separate hot buckets from the normal population") {
    import spark.implicits._
    val boiler = (100000L until 100400L)
      .map(id => (id, "lorem ipsum boilerplate text repeated verbatim on every mirror page"))
      .toDF("doc_id", "text")
    val mixed = docs.select(col("doc_id"), col("text")).unionByName(boiler)

    // tune on a 50% sample: the p99 quantile tracks the NORMAL bucket/df
    // population; the 400-doc boilerplate bucket (~200 in-sample) sits far
    // above cap even after 1/f scaling
    val caps = DedupOps.tuneCaps(mixed, "text", "doc_id", 3, 4, 2,
      sampleFraction = 0.5, seed = 7L)
    assert(caps.maxBucketSize >= 16 && caps.maxBucketSize < 200,
      s"derived bucket cap must clear normal buckets and exclude the 400-doc one: $caps")
    assert(caps.maxDf >= 16 && caps.maxDf < 200, s"derived df cap: $caps")

    // the derived caps behave like the hand-picked ones: boilerplate
    // excluded, normal-bucket recall intact
    val exact = pairSet(DedupOps.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.6))
    val auto = pairSet(DedupOps.minhashNearDups(mixed, "text", "doc_id", 3, 4, 2, 0.6,
      maxBucketSize = caps.maxBucketSize))
    assert(auto.forall { case (a, b) => a < 100000L && b < 100000L })
    val recall = auto.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"derived cap must not hurt normal-bucket recall ($recall)")
    val autoExact = pairSet(DedupOps.ngramJaccardPairs(mixed, "text", "doc_id", 3, 0.6,
      maxDf = caps.maxDf))
    assert(autoExact.forall { case (a, b) => a < 100000L && b < 100000L })
  }

  test("ngramJaccardPairsTuned: corpus-derived df ceiling engages, prune is observable") {
    import spark.implicits._
    val boiler = (100000L until 100400L)
      .map(id => (id, "lorem ipsum boilerplate text repeated verbatim on every mirror page"))
      .toDF("doc_id", "text")
    val mixed = docs.select(col("doc_id"), col("text")).unionByName(boiler)

    val (pairs, maxDf, audit) = DedupOps.ngramJaccardPairsTuned(
      mixed, "text", "doc_id", n = 3, threshold = 0.6,
      sampleFraction = 0.5, seed = 7L)
    val tuned = pairSet(pairs)

    // the derived ceiling sits between the normal shingle-df population and
    // the 400-doc boilerplate shingles, so the cap ENGAGES on exactly the
    // viral population
    assert(maxDf >= 16 && maxDf < 400, s"derived maxDf must separate the populations: $maxDf")
    assert(tuned.forall { case (a, b) => a < 100000L && b < 100000L },
      "boilerplate postings must be dropped by the derived ceiling")

    // NO SILENT TRUNCATION: the audit reports what the ceiling dropped —
    // each of the 400 boilerplate docs contributes its hot shingles' postings
    val m = audit.get
    assert(m("hot_shingles").asInstanceOf[Long] > 0L, s"audit must report hot shingles: $m")
    val dropped = m("dropped_postings").asInstanceOf[Long]
    val total = m("total_postings").asInstanceOf[Long]
    assert(dropped >= 400L && dropped < total,
      s"audit must report the boilerplate postings dropped ($dropped of $total)")

    // the ceiling only ever UNDERCOUNTS intersections: no new pairs vs the
    // uncapped exact run, and the normal population's recall stays intact
    val exactMixed = pairSet(DedupOps.ngramJaccardPairs(mixed, "text", "doc_id", 3, 0.6))
    assert(tuned.subsetOf(exactMixed), "df ceiling must never create false positives")
    val exactNormal = pairSet(DedupOps.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.6))
    val recall = tuned.intersect(exactNormal).size.toDouble / exactNormal.size
    assert(recall >= 0.8, s"derived ceiling must not hurt normal-population recall ($recall)")
  }

  test("token count and quality: edge cases") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "   "), (3L, "one"), (4L, "the cat, and the 42 dog."))
      .toDF("doc_id", "text")
    val tc = df.select(col("doc_id"), TextOps.tokenCount(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 6L))
    val q = df.select(TextOps.qualityScore(col("text"))).collect().map(_.getDouble(0))
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }
}
