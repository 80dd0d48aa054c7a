package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VecFns
import graft.lake.MetaFiles
import graft.util.Rng

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the correctness baseline (O(q·n) dot
  * products). The scale paths are:
  *  - random-hyperplane LSH bucketing: shuffle O(n·tables), candidates only
  *    within buckets — recall tunable by #tables/#bits;
  *  - IVF: coarse-quantize to centroids (seeded sample + one Lloyd
  *    refinement pass), probe the nearest `nprobe` lists — the FAISS-style
  *    layout for cluster-scale ANN.
  *
  * All per-row math runs in native StaticInvoke kernels ([[VecFns]]):
  * round 1's HOF formulations were CodegenFallback (interpreted) and its
  * inline `array(lit…)` hyperplane/centroid literals put O(tables·nBits·dim)
  * nodes in the plan — at dim=768 a codegen bomb. Hyperplanes now live
  * NOWHERE in the plan (seed-derived in-kernel); centroids are ONE flattened
  * array literal each.
  */
object Similarity {

  /** Dot product of two float-array columns (sequential double accumulation
    * — deterministic order, identical on every engine). Kept as the HOF
    * composition for SQL-oracle visibility in specs; hot paths use
    * [[VecFns.cosineF]]. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = VecFns.normF(a)

  def cosine(a: Column, b: Column): Column = VecFns.cosineF(a, b)

  /** Brute-force cosine top-k: for each query vector (by id), the k nearest
    * others. Ranking on (rounded cosine desc, neighbor id) is fully
    * deterministic. Queries are broadcast — n stays partitioned. */
  def bruteForceTopK(vecs: DataFrame, queryIds: Seq[Long], k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val queries = vecs.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val joined = vecs.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("nv")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Deterministic random hyperplanes: dim × nBits doubles from SplitMix64
    * (same derivation the [[VecFns.lshBucket]] kernel reproduces in-place). */
  def hyperplanes(dim: Int, nBits: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(nBits)(b => Array.tabulate(dim)(d =>
      Rng.uniform(Rng.key(seed, b.toLong, d.toLong)) * 2.0 - 1.0))

  /** LSH-bucketed near-neighbor pairs with cosine ≥ threshold: candidates
    * only inside identical buckets across `tables` independent hash tables.
    * Candidate (id1,id2) pairs are DEDUPLICATED before the cosine — a pair
    * surfacing in all tables still pays exactly one verification — and the
    * vectors are joined back for that single computation. */
  def lshNearPairs(vecs: DataFrame, threshold: Double, nBits: Int = 12,
      tables: Int = 4, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      md5Planes: Boolean = false): DataFrame = {
    val v = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val keyed = v.select(col("id"),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("tbl"),
          (if (md5Planes) VecFns.lshBucketMd5(col("v"), nBits, t)
           else VecFns.lshBucket(col("v"), nBits, Rng.key(seed, t.toLong))).as("bkt"))
      }: _*)).as("tb"))
      .select(col("id"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    val a = keyed.alias("a")
    val b = keyed.alias("b")
    val candidates = a.join(b,
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    candidates
      .join(v.select(col("id").as("id1"), col("v").as("v1")), "id1")
      .join(v.select(col("id").as("id2"), col("v").as("v2")), "id2")
      .select(col("id1"), col("id2"), round(cosine(col("v1"), col("v2")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Flatten centroids to the single-literal layout the kernels consume. */
  private def centsLit(cents: Array[(Int, Array[Double])]): Column = {
    val sorted = cents.sortBy(_._1)
    require(sorted.zipWithIndex.forall { case ((i, _), j) => i == j }, "centroid ids must be 0..n-1")
    typedLit(sorted.flatMap(_._2).toSeq)
  }

  /** Ceiling on a single flattened centroid literal (doubles). One literal
    * is one Catalyst node and one broadcast-with-the-plan payload: 4M
    * doubles = 32 MB is comfortable; past it (65k lists × 768 dims ≈ 50M)
    * the codebook is SPLIT into shards, each its own literal, and
    * assignment/probing combine per-shard results — still map-only, no
    * join, no shuffle. Lower it in tests to force the sharded path. */
  @volatile var MaxCentroidLiteralDoubles: Int = 4 * 1024 * 1024

  /** Shards of ≤ MaxCentroidLiteralDoubles/dim centroids: (globalIdOffset,
    * contiguous centroid slice). */
  private[ops] def centShards(cents: Array[(Int, Array[Double])]): Seq[(Int, Array[(Int, Array[Double])])] = {
    val sorted = cents.sortBy(_._1)
    require(sorted.zipWithIndex.forall { case ((i, _), j) => i == j }, "centroid ids must be 0..n-1")
    val dim = sorted.head._2.length
    val perShard = math.max(1, MaxCentroidLiteralDoubles / dim)
    sorted.grouped(perShard).map(g => (g.head._1, g)).toSeq
  }

  private def shardLit(g: Array[(Int, Array[Double])]): Column =
    typedLit(g.flatMap(_._2).toSeq)

  /** Nearest-centroid column over a possibly-sharded codebook: single-shard
    * = the one-literal argmax kernel; sharded = per-shard `[dot, id]` bests
    * folded lexicographically (equal dots prefer the later shard — the
    * global "ties → larger id" rule, since within-shard ties already keep
    * the larger local id). */
  private def nearestListCol(vecCol: Column, cents: Array[(Int, Array[Double])]): Column = {
    val shards = centShards(cents)
    if (shards.size == 1) VecFns.centroidArgmax(vecCol, centsLit(cents), cents.length)
    else {
      val bests = shards.map { case (off, g) =>
        VecFns.centroidBest(vecCol, shardLit(g), g.length, off)
      }
      val best = bests.reduce((a, b) =>
        when(element_at(b, 1) >= element_at(a, 1), b).otherwise(a))
      element_at(best, 2).cast("int")
    }
  }

  /** Top-`nprobe` list ids over a possibly-sharded codebook (order ==
    * [[VecFns.probeLists]]: dot desc, id desc): the global top-nprobe is a
    * subset of the union of per-shard top-nprobes, so concat + sort + slice
    * is exact. */
  private def probeListsCol(qv: Column, cents: Array[(Int, Array[Double])], nprobe: Int): Column = {
    val shards = centShards(cents)
    if (shards.size == 1) VecFns.probeLists(qv, centsLit(cents), cents.length, nprobe)
    else {
      val per = shards.map { case (off, g) =>
        VecFns.probeScored(qv, shardLit(g), g.length, nprobe, off)
      }
      val sorted = array_sort(concat(per: _*), (l, r) =>
        when(element_at(l, 1) > element_at(r, 1), -1)
          .when(element_at(l, 1) < element_at(r, 1), 1)
          .when(element_at(l, 2) > element_at(r, 2), -1)
          .when(element_at(l, 2) < element_at(r, 2), 1)
          .otherwise(0))
      transform(slice(sorted, 1, nprobe), x => element_at(x, 2).cast("int"))
    }
  }

  /** IVF index: coarse centroids seeded from the vectors whose ids hash
    * lowest, then ONE Lloyd refinement pass (assign → per-list mean →
    * re-assign), then final assignment. Returns (assignments DF with `list`
    * column, centroids).
    *
    * Driver ceiling: centroids are collected and shipped as one plan
    * literal — O(nLists·dim) doubles (4096 lists × 768 dims ≈ 25 MB). For
    * larger codebooks, shard the centroid set and probe per shard; below
    * that, the single-literal layout keeps assignment map-only (no join, no
    * shuffle). */
  def ivfAssign(vecs: DataFrame, nLists: Int, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      md5Seeding: Boolean = false): (DataFrame, Array[(Int, Array[Double])]) = {
    // seed centroids: nLists rows with the smallest rank hash — SplitMix64
    // by default; md5 hex (`md5("s|" ++ id)`, lexicographic ≡ unsigned) for
    // the oracle-portable variant the SQL oracle reproduces
    val rank =
      if (md5Seeding) md5(to_binary(concat(lit("s|"), col(idCol).cast("string")), lit("utf-8")))
      else xxhash64(lit(seed), col(idCol))
    val seeded = vecs
      .withColumn("_rk", rank)
      .orderBy(col("_rk"), col(idCol)).limit(nLists)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val cents0 = seeded.zipWithIndex.map { case (v, i) => (i, v) }
    // one Lloyd pass: mean of each list's members (empty list keeps its
    // seed). posexplode+agg is one shuffle of (list,pos) partial sums —
    // O(nLists·dim) rows back to the driver, same ceiling as the literal.
    val assigned0 = assignToCentroids(vecs, cents0, idCol, vecCol)
    val sums = assigned0
      .select(col("list"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("list"), col("pos"))
      .agg(sum(col("x").cast("double")).as("s"), count(lit(1)).as("c"))
      .collect()
    val dim = cents0.head._2.length
    val refined = cents0.map { case (i, v) => (i, v.clone()) }
    val counts = new Array[Long](nLists)
    sums.foreach { r =>
      val l = r.getInt(0)
      counts(l) = r.getLong(3)
    }
    sums.foreach { r =>
      val l = r.getInt(0); val p = r.getInt(1)
      if (counts(l) > 0) refined(l)._2(p) = r.getDouble(2) / counts(l)
    }
    val assigned = assignToCentroids(vecs, refined, idCol, vecCol)
    (assigned, refined)
  }

  def assignToCentroids(vecs: DataFrame, cents: Array[(Int, Array[Double])],
      idCol: String, vecCol: String): DataFrame =
    vecs.withColumn("list", nearestListCol(col(vecCol), cents))

  /** Persist an IVF index: vectors written as parquet PARTITIONED BY their
    * coarse list (plus `_centroids.json` alongside) — the FAISS-style
    * inverted-file layout where probing `nprobe` lists is a PARTITION-PRUNED
    * read (`list IN (…)` never touches other lists' files). Returns the
    * centroids. */
  def writeIvfIndex(vecs: DataFrame, dir: String, nLists: Int, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      md5Seeding: Boolean = false): Array[(Int, Array[Double])] = {
    val (assigned, cents) = ivfAssign(vecs, nLists, seed, idCol, vecCol, md5Seeding)
    val obs = org.apache.spark.sql.Observation()
    assigned.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").partitionBy("list").parquet(dir)
    writeCentroids(dir, cents)
    writeTrainMeta(dir, TrainMeta(nLists, seed, md5Seeding,
      trainedRows = obs.get("n").asInstanceOf[Long], appendedRows = 0L,
      idCol = idCol, vecCol = vecCol))
    cents
  }

  /** SQ8 code columns for an assigned batch: per-vector affine 8-bit codes
    * (`code` byte-per-dim + `vmin`/`vmax` floats) replacing the raw float
    * array — the per-row index payload shrinks ~4× (IVF SQ8 A/B in
    * BENCH_LOCAL.md). */
  private def sq8Columns(assigned: DataFrame, idCol: String, vecCol: String): DataFrame =
    assigned
      .withColumn("vmin", array_min(col(vecCol)))
      .withColumn("vmax", array_max(col(vecCol)))
      .select(col(idCol),
        VecFns.sq8Encode(col(vecCol), col("vmin"), col("vmax")).as("code"),
        col("vmin"), col("vmax"), col("list"))

  /** [[writeIvfIndex]] with 8-bit scalar-quantized storage (the FAISS SQ8
    * discipline): list files hold `(id, code, vmin, vmax)` — ~4× smaller
    * than raw float arrays, and at 10⁹–10¹⁰ embeddings the inverted file IS
    * the storage bill. Raw vectors are NOT duplicated into the index; exact
    * re-rank fetches them from the source table ([[ivfTopKIndexedSq8]]).
    * Same codebook, same training procedure, same `_centroids.json` — only
    * the list payload changes. */
  def writeIvfIndexSq8(vecs: DataFrame, dir: String, nLists: Int, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      md5Seeding: Boolean = false): Array[(Int, Array[Double])] = {
    val (assigned, cents) = ivfAssign(vecs, nLists, seed, idCol, vecCol, md5Seeding)
    val obs = org.apache.spark.sql.Observation()
    sq8Columns(assigned, idCol, vecCol)
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").partitionBy("list").parquet(dir)
    writeCentroids(dir, cents)
    writeTrainMeta(dir, TrainMeta(nLists, seed, md5Seeding,
      trainedRows = obs.get("n").asInstanceOf[Long], appendedRows = 0L,
      idCol = idCol, vecCol = vecCol, quant = "sq8"))
    cents
  }

  /** Training provenance + drift counter for [[maybeRebuildIvfIndex]]'s
    * cadence rule: how many rows the codebook was trained over, and how
    * many have been frozen-assigned since. Lives in `_train_meta.json`
    * next to `_centroids.json` (same single-writer discipline as the
    * index's parquet appends). */
  final case class TrainMeta(nLists: Int, seed: Long, md5Seeding: Boolean,
      trainedRows: Long, appendedRows: Long,
      idCol: String = "vec_id", vecCol: String = "embedding",
      quant: String = "raw")

  private def metaPath(dir: String) =
    java.nio.file.Paths.get(dir, "_train_meta.json")

  private def writeTrainMeta(dir: String, m: TrainMeta): Unit =
    MetaFiles.publish(metaPath(dir), MetaFiles.json(_.put("nLists", m.nLists)
      .put("seed", m.seed).put("md5Seeding", m.md5Seeding)
      .put("trainedRows", m.trainedRows).put("appendedRows", m.appendedRows)
      .put("idCol", m.idCol).put("vecCol", m.vecCol).put("quant", m.quant)),
      replace = true)

  /** `None` for a pre-meta index (created before training provenance was
    * recorded): appends still work, the automated cadence just can't judge
    * drift — rebuild explicitly once and the meta starts tracking. */
  def readTrainMeta(dir: String): Option[TrainMeta] = {
    val p = metaPath(dir)
    if (!java.nio.file.Files.exists(p)) return None
    val j = MetaFiles.readJson(p)
    def f(name: String): com.fasterxml.jackson.databind.JsonNode = Option(j.get(name))
      .getOrElse(throw new IllegalStateException(s"bad _train_meta.json at $dir"))
    // quant is optional for pre-SQ8 metas: absent ⇒ raw float storage
    Some(TrainMeta(f("nLists").asInt(), f("seed").asLong(), f("md5Seeding").asBoolean(),
      f("trainedRows").asLong(), f("appendedRows").asLong(), f("idCol").asText(),
      f("vecCol").asText(), j.path("quant").asText("raw")))
  }

  /** `_centroids.json`: one array of doubles per list, in list order. */
  private def writeCentroids(dir: String, cents: Array[(Int, Array[Double])]): Unit =
    MetaFiles.publish(java.nio.file.Paths.get(dir, "_centroids.json"),
      cents.sortBy(_._1).map(_._2.mkString("[", ",", "]")).mkString("[", ",", "]")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8), replace = true)

  /** INCREMENTAL index maintenance: assign a new vector batch with the
    * index's FROZEN codebook (the FAISS discipline — the coarse quantizer is
    * trained once; drift is handled by periodic retrain, not per-batch) and
    * append under the same `list` partitioning. O(batch) work: assignment is
    * map-only against the centroid literal, the append touches only the
    * lists the batch lands in. */
  def appendToIvfIndex(vecs: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val cents = readIvfCentroids(dir)
    val obs = org.apache.spark.sql.Observation()
    val assigned = assignToCentroids(vecs.select(col(idCol), col(vecCol)), cents, idCol, vecCol)
    val meta = readTrainMeta(dir) // one read serves the dispatch AND the counter
    // storage dispatch follows the index's recorded quantization, so a batch
    // appended to an SQ8 index lands as codes — one index, one row layout
    val out =
      if (meta.exists(_.quant == "sq8")) sq8Columns(assigned, idCol, vecCol)
      else assigned
    out.observe(obs, count(lit(1)).as("n"))
      .write.mode("append").partitionBy("list").parquet(dir)
    // drift counter (single-writer: appends are serialized by the caller,
    // as parquet `append` itself already requires)
    meta.foreach(m => writeTrainMeta(dir,
      m.copy(appendedRows = m.appendedRows + obs.get("n").asInstanceOf[Long])))
  }

  /** Automated retrain cadence (the `maybeGrowBuckets` of the ANN side):
    * rebuild when frozen-codebook appends since the last train exceed
    * `growthFactor` × the trained corpus — the point where the codebook
    * was trained over a minority of the index and stale-list recall decay
    * sets in. Returns the new centroids when a rebuild ran, `None` when
    * under threshold (or the index predates training metadata). Call it
    * after appends on any maintenance cadence — cheap no-op otherwise. */
  def maybeRebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, growthFactor: Double = 1.0,
      source: Option[DataFrame] = None): Option[Array[(Int, Array[Double])]] = {
    require(growthFactor > 0, "growthFactor must be positive")
    readTrainMeta(dir) match {
      case Some(m) =>
        // SQ8 lists hold codes, not vectors: retraining needs the raw source
        // (training on decoded codes would compound quantization error into
        // the codebook). Validate the wiring on EVERY call — a miswired
        // maintenance loop must fail on its first run, not weeks later when
        // the growth threshold happens to fire mid-production.
        if (m.quant == "sq8") require(source.isDefined,
          s"SQ8 index at $dir needs the raw vector source to retrain")
        if (m.appendedRows >= growthFactor * math.max(1L, m.trainedRows))
          Some(
            if (m.quant == "sq8")
              rebuildIvfIndexSq8(spark, dir, source.get, m.nLists, m.seed,
                idCol = m.idCol, vecCol = m.vecCol, md5Seeding = m.md5Seeding)
            else
              rebuildIvfIndex(spark, dir, m.nLists, m.seed,
                idCol = m.idCol, vecCol = m.vecCol, md5Seeding = m.md5Seeding))
        else None
      case None => None
    }
  }

  /** REBUILD/RETRAIN an IVF index in place — the operational lever for
    * codebook drift: frozen-codebook appends keep per-batch cost O(batch),
    * but as the corpus drifts from the training distribution, probes of the
    * stale lists lose recall. This re-trains the coarse codebook over the
    * index's CURRENT contents (same seeded-sample + one-Lloyd-pass
    * procedure as [[writeIvfIndex]] — a rebuild equals a from-scratch index
    * over the same rows, bit for bit), re-assigns every vector, writes a
    * complete fresh inverted file NEXT TO the live one, and swaps
    * ([[graft.lake.MetaFiles.swapDir]]: the builder fully materializes —
    * train collects + parquet write — before two atomic renames). Probes
    * re-list the directory per call, so the only hazard is the instant
    * between the renames — a concurrent probe fails loudly on the missing
    * dir (retry) and can never observe a half-written MIX of codebooks.
    * Crash between the renames: restore by renaming the `.old-<nonce>`
    * sibling back. Retrain cadence
    * is the deployment's contract (e.g. when appended rows since last train
    * exceed ~the trained corpus, or recall probes degrade). */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      nLists: Int, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      md5Seeding: Boolean = false): Array[(Int, Array[Double])] = {
    val vecs = spark.read.parquet(dir).select(col(idCol), col(vecCol))
    MetaFiles.swapDir(java.nio.file.Paths.get(dir))(fresh => writeIvfIndex(vecs,
      fresh.toString, nLists, seed, idCol, vecCol, md5Seeding))
  }

  /** [[rebuildIvfIndex]] for an SQ8 index: retrains over the caller-supplied
    * RAW vectors (the index holds only codes) and writes a fresh SQ8
    * inverted file with the same swap protocol. A rebuild equals a
    * from-scratch [[writeIvfIndexSq8]] over the same rows, bit for bit. */
  def rebuildIvfIndexSq8(spark: org.apache.spark.sql.SparkSession, dir: String,
      source: DataFrame, nLists: Int, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      md5Seeding: Boolean = false): Array[(Int, Array[Double])] =
    MetaFiles.swapDir(java.nio.file.Paths.get(dir))(fresh => writeIvfIndexSq8(source,
      fresh.toString, nLists, seed, idCol, vecCol, md5Seeding))

  /** IVF top-k for EXTERNAL query vectors (a new batch not yet in the index)
    * against a persisted index: probes are partition-pruned, the query batch
    * is broadcast — the incremental-ANN twin of [[graft.ops.LshIndex]]'s
    * probe. Pair with [[appendToIvfIndex]] for probe-then-append flows; if
    * the result must survive the append, `localCheckpoint` it first (an
    * append to the probed path RECOMPUTES cached plans reading it). */
  def ivfTopKForVectors(spark: org.apache.spark.sql.SparkSession, dir: String,
      queryVecs: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = readIvfCentroids(dir)
    val queries = queryVecs
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("probe",
        explode(probeListsCol(col("qv"), cents, nprobe)))
      .select(col("query_id"), col("qv"), col("probe"))
    val probeSet = queries.select(col("probe")).distinct().collect().map(_.getInt(0)).toSeq
    val cands = spark.read.parquet(dir)
      .filter(col("list").isin(probeSet: _*)) // partition-pruned
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"), col("list"))
    val joined = cands.join(broadcast(queries),
        col("list") === col("probe") && col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("nv")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Load the centroid matrix written by [[writeIvfIndex]]. */
  def readIvfCentroids(dir: String): Array[(Int, Array[Double])] = {
    val node = MetaFiles.readJson(java.nio.file.Paths.get(dir, "_centroids.json"))
    (0 until node.size()).map { i =>
      val arr = node.get(i)
      i -> Array.tabulate(arr.size())(j => arr.get(j).asDouble())
    }.toArray
  }

  /** IVF top-k over a PERSISTED index: probe lists are pruned at the parquet
    * partition level — `.explain` shows `PartitionFilters: [list IN (…)]`
    * and only the probed lists' files are read (the cluster-scale ANN
    * path; [[ivfTopK]] below is the self-contained in-memory form). */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
      queryIds: Seq[Long], k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = readIvfCentroids(dir)
    val index = spark.read.parquet(dir)
    val queries = index.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("probe",
        explode(probeListsCol(col("qv"), cents, nprobe)))
      .select(col("query_id"), col("qv"), col("probe")).collect()
    val probeSet = queries.map(_.getInt(2)).distinct.toSeq
    val cands = index.filter(col("list").isin(probeSet: _*)) // partition-pruned
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"), col("list"))
    val qdf = spark.createDataFrame(
      spark.sparkContext.parallelize(queries.map(r =>
        org.apache.spark.sql.Row(r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSeq),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("qv",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.types.StructField("probe", org.apache.spark.sql.types.IntegerType))))
    val joined = cands.join(broadcast(qdf),
        col("list") === col("probe") && col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("nv")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** IVF top-k over a persisted SQ8 index with EXACT re-rank (the FAISS
    * two-stage discipline): the partition-pruned probe scans 8-bit codes
    * (~4× fewer bytes than raw floats — at 10⁹+ vectors the probe-scan
    * payload is the query cost), approximate cosine ranks a candidate pool
    * of `rerankFactor × k` per query, then ONLY the pool's raw vectors are
    * fetched from `source` (the id-keyed vector table — never duplicated
    * into the index) and the final top-k is exact-cosine ranked with the
    * same tie order as [[ivfTopKIndexed]].
    *
    * Exactness: the re-ranked scores are exact; the POOL is approximate —
    * a true top-k member ranked below `rerankFactor × k` by quantized
    * cosine would be missed (SQ8 error is ~1e-3 on unit-scale floats, so
    * factor 4 holds recall in practice; raise it to trade scan for
    * certainty). The pool fetch broadcasts O(queries·k·factor) ids against
    * `source` — map-only, no shuffle of the vector table. */
  def ivfTopKIndexedSq8(spark: org.apache.spark.sql.SparkSession, dir: String,
      source: DataFrame, queryIds: Seq[Long], k: Int, nprobe: Int,
      rerankFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerankFactor >= 1, "rerankFactor must be >= 1")
    val cents = readIvfCentroids(dir)
    val queries = source.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("probe",
        explode(probeListsCol(col("qv"), cents, nprobe)))
      .select(col("query_id"), col("qv"), col("probe")).collect()
    val probeSet = queries.map(_.getInt(2)).distinct.toSeq
    val qdf = spark.createDataFrame(
      spark.sparkContext.parallelize(queries.map(r =>
        org.apache.spark.sql.Row(r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSeq),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("qv",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.types.StructField("probe", org.apache.spark.sql.types.IntegerType))))
    val codes = spark.read.parquet(dir)
      .filter(col("list").isin(probeSet: _*)) // partition-pruned
      .select(col(idCol).as("neighbor_id"), col("code"), col("vmin"), col("vmax"), col("list"))
    val approx = codes.join(broadcast(qdf),
        col("list") === col("probe") && col("neighbor_id") =!= col("query_id"))
      .withColumn("acos", VecFns.sq8Cosine(col("qv"), col("code"), col("vmin"), col("vmax")))
    val wa = Window.partitionBy(col("query_id")).orderBy(col("acos").desc, col("neighbor_id"))
    val pool = approx.withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= k * rerankFactor)
      .select(col("query_id"), col("qv"), col("neighbor_id"))
    val rescored = source.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .join(broadcast(pool), Seq("neighbor_id"))
      .withColumn("cos", round(cosine(col("qv"), col("nv")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    rescored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** IVF top-k: probe the `nprobe` nearest lists per query, brute-force
    * within them. At scale use [[writeIvfIndex]] + [[ivfTopKIndexed]] —
    * the persisted layout makes the per-list scan a partition-pruned read. */
  def ivfTopK(vecs: DataFrame, queryIds: Seq[Long], k: Int, nLists: Int,
      nprobe: Int, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      md5Seeding: Boolean = false): DataFrame = {
    val (assigned, cents) = ivfAssign(vecs, nLists, seed, idCol, vecCol, md5Seeding)
    val queries = assigned.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("probe",
        explode(probeListsCol(col("qv"), cents, nprobe)))
      .select(col("query_id"), col("qv"), col("probe"))
    val cands = assigned.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"), col("list"))
      .join(broadcast(queries), col("list") === col("probe") && col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("nv")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }
}
