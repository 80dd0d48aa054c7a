package graft.ops

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.MetaFiles

/** PERSISTED MinHash-LSH band index for INCREMENTAL near-duplicate
  * detection — the shape a web-scale training-data pipeline actually runs:
  * the corpus is indexed ONCE (and appended to as batches land), and each
  * new document batch is checked against the index in one pass, instead of
  * recomputing LSH over the whole corpus per increment.
  *
  * Index layout (`<dir>/`):
  * {{{
  *   params.json                  — (n, bands, rowsPerBand, shards), fixed at create
  *   bands/span=<tag>/pb=<shard>/part-….parquet
  *                                — (id, sig, band, bucket): one row per
  *                                  (doc, band); `sig` is the doc's full
  *                                  k-minhash signature, embedded so probe
  *                                  verification never re-reads the corpus.
  *                                  One span dir per append increment —
  *                                  replaying a span OVERWRITES its own rows
  * }}}
  *
  * Scale design:
  *  - `pb = pmod(hash(bucket), shards)` is a PHYSICAL partition key: a probe
  *    batch touches only the shards its (band, bucket) keys hash into, so a
  *    small increment reads a partition-pruned slice of the index, never the
  *    whole corpus (same pattern as the IVF embedding index's pruned probes,
  *    [[Similarity]]). Size `shards` so one shard ≈ a few GB at the target
  *    corpus (shards ≫ probe-batch distinct buckets keeps reads O(delta)).
  *  - the probe side (one increment) is BROADCAST against the pruned index
  *    slice — the index is never shuffled by a query.
  *  - candidate verification uses the EMBEDDED signatures (estimated
  *    jaccard = fraction of equal minhash positions) — O(k) per candidate,
  *    no corpus join. Exact-jaccard re-verification can be layered on top
  *    via [[DedupOps.verifyJaccard]] when the text table is at hand.
  *  - appends write one span directory each under the same sharding — no
  *    rewrite of earlier spans, and a span-keyed append is replay-idempotent
  *    (see [[append]]); the md5 hash domain keeps every row reproducible in
  *    portable SQL (the DuckDB oracle grades the whole pipeline).
  *  - storage: `sig` is `array<long>` of md5-LOW-64 truncations — 8 bytes
  *    per minhash instead of a 32-char hex string (≈8k vs ≈32k+ bytes per
  *    (doc, band) row uncompressed; see the LSH signature storage A/B in
  *    BENCH_LOCAL.md). Position equality — hence `match_frac` — is
  *    preserved: equal md5 ⇒ equal low-64, and a spurious equality needs a
  *    2⁻⁶⁴ cross-md5 collision. Buckets stay full-hex-md5-derived.
  *
  * Reference analog: none (the reference has no dedup role) — this extends
  * the engine's LLM-pipeline operator family (SURVEY.md §6) with the
  * incremental variant of [[DedupOps.minhashNearDups]].
  */
object LshIndex {

  /** Index shape, fixed at [[create]]: `n`-gram shingles, `bands` ×
    * `rowsPerBand` minhashes, `shards` physical probe partitions. */
  final case class Params(n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
      shards: Int = 64) {
    def k: Int = bands * rowsPerBand
  }

  private def paramsFile(dir: Path) = dir.resolve("params.json")
  private def bandsDir(dir: Path) = dir.resolve("bands")

  /** One subdirectory per append span (`bands/span=<tag>/pb=<shard>/…`):
    * `span` is a discovered partition column, so probes read across all
    * spans unchanged while a REPLAYED span overwrites exactly its own rows. */
  private def spanDir(dir: Path, tag: String) = {
    validateTag(tag)
    bandsDir(dir).resolve(s"span=$tag")
  }

  /** Span tags become directory names with OVERWRITE semantics — VALIDATE
    * the charset instead of rewriting it (the [[graft.lake.LakeTable]]
    * pin-owner rule): a lossy sanitize would collapse distinct tags like
    * `a/b`, `a b`, and `a_b` onto one span directory, and a colliding tag
    * silently deletes another span's index rows. The ad-hoc accumulator tag
    * is reserved: a keyed append under it would OVERWRITE the whole
    * accumulated un-keyed history. MIGRATION: a tree whose spans were
    * written by the old lossy sanitizer (tags holding rewritten chars) can
    * hold directories a replayed original tag no longer maps to — rebuild
    * ([[rebuild]]) regenerates the tree under validated tags; curation's
    * own span tags (`<from>_<to>` numerics) were always in the safe set. */
  private[ops] def validateTag(tag: String): Unit = {
    require(tag.nonEmpty &&
      tag.forall(c => c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"span tag must match [A-Za-z0-9._-]+, got '$tag'")
    require(tag != AdhocTag,
      s"span tag '$AdhocTag' is reserved for un-keyed appends " +
        "(a keyed append under it would overwrite the accumulated ad-hoc rows)")
  }

  /** Shared accumulator span for un-keyed (`span = None`) appends. */
  private val AdhocTag = "adhoc"

  private def adhocDir(dir: Path) = bandsDir(dir).resolve(s"span=$AdhocTag")

  /** Does `root` hold any parquet file SPARK CAN SEE? Matching Spark's
    * hidden-path rule matters, not just existence: a crashed write leaves
    * committer staging (parquet under `_temporary`) that a plain file walk
    * finds but `spark.read` filters out — classifying such a tree as non-empty
    * makes the subsequent read fail schema inference on every retry (a
    * permanent wedge where the contract promises crash-anywhere recovery).
    * Driver-side recursive list skipping `_`/`.`-prefixed names,
    * short-circuiting on the first visible leaf. */
  private def hasVisibleParquet(root: Path): Boolean = {
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    def go(d: Path): Boolean = {
      val s = Files.list(d)
      try {
        val it = s.iterator()
        var found = false
        while (!found && it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          if (!hidden(n))
            found = if (Files.isDirectory(p)) go(p) else n.endsWith(".parquet")
        }
        found
      } finally s.close()
    }
    Files.isDirectory(root) && go(root)
  }

  /** Does the index hold any data file yet? (A freshly created index — or one
    * whose only appended spans were empty batches — has no parquet leaves;
    * reading it would fail schema inference.) */
  private def hasData(dir: Path): Boolean = hasVisibleParquet(bandsDir(dir))

  /** Current on-disk layout: 2 = span-keyed append dirs
    * (`bands/span=<tag>/pb=<shard>`) with truncated `array<long>` sigs.
    * Layout 1 (pre-span flat `bands/pb=<shard>`, hex-string sigs) is
    * read-incompatible with 2 — mixed partition depths break parquet
    * partition discovery and the sig schemas conflict — so writes against a
    * legacy index FAIL FAST instead of bricking every subsequent probe; the
    * migration path is [[rebuild]] from the live corpus (it re-shingles the
    * caller's docs and writes a complete fresh layout-2 tree — it never
    * reads the old files). */
  val CurrentLayout = 2

  def create(dir: Path, params: Params): Unit = {
    require(params.n >= 1 && params.bands >= 1 && params.rowsPerBand >= 1 && params.shards >= 1)
    Files.createDirectories(dir)
    try MetaFiles.publish(paramsFile(dir), MetaFiles.json(_.put("layout", CurrentLayout)
      .put("n", params.n).put("bands", params.bands)
      .put("rowsPerBand", params.rowsPerBand).put("shards", params.shards)),
      replace = false)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(s"index already exists at $dir", e)
    }
  }

  /** Layout-tolerant load (params parse on any version — [[rebuild]] uses
    * it to migrate a legacy tree without reading its data files). */
  def load(dir: Path): Params = parseParams(MetaFiles.readJson(paramsFile(dir)), dir)

  private def parseParams(j: JsonNode, dir: Path): Params = {
    def field(name: String): Int = Option(j.get(name))
      .getOrElse(throw new IllegalStateException(s"bad params.json at $dir")).asInt()
    Params(field("n"), field("bands"), field("rowsPerBand"), field("shards"))
  }

  /** One read: parse params AND enforce the current layout (a params.json
    * without the `layout` field predates versioning → 1). */
  private def loadChecked(dir: Path): Params = {
    val j = MetaFiles.readJson(paramsFile(dir))
    val l = j.path("layout").asInt(1)
    if (l != CurrentLayout)
      throw new IllegalStateException(
        s"LSH index at $dir uses legacy layout $l (current $CurrentLayout): " +
          "appending or probing would mix incompatible directory depths and " +
          "sig schemas — migrate with LshIndex.rebuild over the live corpus")
    parseParams(j, dir)
  }

  /** (id, sig, band, bucket) rows for `docs` — the index's logical row.
    * Docs with fewer than `n` tokens have no signature and are skipped
    * (they cannot be near-duplicates under an n-gram metric).
    *
    * `sig` is stored TRUNCATED — `array<long>` of each minhash's md5 low 64
    * bits (8 bytes/element vs a 32-char hex string): equality of positions
    * is preserved (equal md5 ⇒ equal low-64; a spurious equality needs a
    * 2⁻⁶⁴ collision between different md5s), so `match_frac` is unchanged,
    * and the DuckDB oracle reproduces the domain as `substr(md5, 17, 16)`
    * comparisons. Band BUCKETS stay derived from the full hex md5 chain —
    * identical bucketing to [[DedupOps.minhashNearDups]]. */
  private def bandRows(docs: DataFrame, textCol: String, idCol: String,
      p: Params): DataFrame = {
    val sigs = docs
      .select(col(idCol).as("id"),
        graft.functions.NativeFns.minhashSig(col(textCol), p.n, p.k).as("sigHex"))
      .filter(col("sigHex").isNotNull)
    sigs.select(
      col("id"), graft.functions.NativeFns.sigLow64(col("sigHex")).as("sig"),
      explode(array((0 until p.bands).map { b =>
        struct(lit(b).as("band"),
          md5(to_binary(concat_ws("|", (0 until p.rowsPerBand).map(r =>
            element_at(col("sigHex"), b * p.rowsPerBand + r + 1)): _*), lit("utf-8"))).as("bucket"))
      }: _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
  }

  /** Append a document batch to the index (call AFTER probing it, so a batch
    * is never matched against itself).
    *
    * `span` keys the write for REPLAY IDEMPOTENCE: each span tag owns one
    * subdirectory (`bands/span=<tag>/pb=<shard>/…`) written with OVERWRITE
    * semantics, so re-running an increment after a crash between this append
    * and the caller's own downstream commit rewrites the same rows instead
    * of duplicating them (the lake table's marker-gated discipline, applied
    * to the index). Ad-hoc appends (`span = None`) accumulate under one
    * shared tag and are NOT replay-idempotent — callers with replay
    * semantics (the curation loop) must pass their span.
    *
    * Returns the number of (doc, band) rows written (observed on the write
    * action itself — no second pass); [[graft.ops.Curate]] accumulates it as
    * the growth counter driving its GC-rebuild cadence. */
  def append(docs: DataFrame, textCol: String, idCol: String, dir: Path,
      span: Option[String] = None): Long = {
    val p = loadChecked(dir)
    appendRows(probeRows(docs, textCol, idCol, p), p, dir, span)
  }

  /** [[bandRows]] plus the physical shard key — the index's stored row. */
  private def probeRows(docs: DataFrame, textCol: String, idCol: String,
      p: Params): DataFrame =
    bandRows(docs, textCol, idCol, p)
      .withColumn("pb", pmod(hash(col("bucket")), lit(p.shards)))

  private def appendRows(rows: DataFrame, p: Params, dir: Path,
      span: Option[String]): Long = {
    val obs = org.apache.spark.sql.Observation()
    val counted = rows.observe(obs, count(lit(1)).as("n"))
    val (mode, out) = span match {
      case Some(tag) => ("overwrite", spanDir(dir, tag))
      case None => ("append", adhocDir(dir))
    }
    // FEW files per touched shard per span: without the pb clustering, every
    // write task emits a file into every pb directory (tasks × shards files
    // per span), and each subsequent probe re-lists and footer-reads all of
    // them — measured as the curated stream's probe time growing linearly
    // in span count. The clustering shuffle is O(increment) bytes. The salt
    // keeps the write as parallel as the cluster when cores exceed shards
    // (a rebuild funnels the WHOLE corpus through here — clustering by pb
    // alone would serialize it into at most `shards` write tasks); locally
    // (cores ≤ shards) it degenerates to exactly one file per shard.
    val filesPerShard = math.max(1,
      rows.sparkSession.sparkContext.defaultParallelism / p.shards)
    val clustered =
      if (filesPerShard == 1) counted.repartition(col("pb"))
      else counted.repartition(col("pb"),
        pmod(hash(col("id")), lit(filesPerShard)))
    clustered.write.mode(mode).partitionBy("pb").parquet(out.toString)
    obs.get("n").asInstanceOf[Long]
  }

  /** Near-duplicates of `newDocs` against the INDEXED corpus: one row per
    * (new_id, old_id) candidate pair sharing ≥1 band bucket, verified by
    * signature similarity `match_frac` = fraction of equal minhash
    * positions (an unbiased jaccard estimate), kept when ≥ `minMatchFrac`.
    *
    * Plan shape (assert via `.explain`): the index scan is PARTITION-PRUNED
    * to the probe batch's `pb` shards, the probe side is broadcast, and the
    * verification is a codegen'd k-term comparison on columns already in the
    * joined row — no second pass, no index shuffle.
    *
    * `maxBucketSize` (> 0) drops PRUNED-SLICE buckets holding more members
    * (viral boilerplate would fan a probe out by the bucket's full
    * membership); the count runs on the pruned slice only. */
  def nearDupsOf(spark: SparkSession, newDocs: DataFrame, textCol: String,
      idCol: String, dir: Path, minMatchFrac: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame = {
    val p = loadChecked(dir)
    val probes = probeRows(newDocs, textCol, idCol, p)
    if (!hasData(dir)) return emptyResult(probes)
    // eager checkpoint: the probe plan drives THREE actions over the band
    // rows (shard-list collect + two broadcast builds) — without it the
    // minhash kernel re-runs per action ([[probeAndAppendCounted]] passes
    // persisted rows for the same reason; here the result outlives the
    // call, so a try/finally unpersist can't be used)
    nearDupsOfProbes(spark, probes.localCheckpoint(true), p, dir,
      minMatchFrac, maxBucketSize)
  }

  /** No-candidates result with the probe's id type (callers key by url
    * strings or numeric ids alike). */
  private def emptyResult(probes: DataFrame): DataFrame =
    probes.select(col("id").as("new_id"), col("id").as("old_id"),
      lit(null).cast("double").as("match_frac")).limit(0)

  private def nearDupsOfProbes(spark: SparkSession, probes: DataFrame,
      p: Params, dir: Path, minMatchFrac: Double,
      maxBucketSize: Int): DataFrame = {
    if (!hasData(dir)) return emptyResult(probes)
    // probe batches are increments — small relative to the corpus; their
    // distinct shard list prunes the index read (driver list ≤ shards)
    val pbs = probes.select(col("pb")).distinct().collect().map(_.getInt(0)).toSeq
    val idx0 = spark.read.parquet(bandsDir(dir).toString)
      .filter(col("pb").isInCollection(pbs))
    // Narrow to the PROBED (band, bucket) keys BEFORE the bucket-size cap:
    // the cap's count_distinct is a shuffle aggregation, and running it over
    // the whole index made every increment cost O(corpus) — the exact
    // growth curve the incremental index exists to avoid (measured: probe
    // time growing 0.15 → 5 s across 16 batches while the index grew).
    // Semantics are unchanged: a bucket the probe never touches can never
    // produce a candidate, and for touched buckets the semi-join keeps ALL
    // their member rows, so the distinct-id count still sees the full
    // bucket. The index scan itself stays map-only (broadcast semi).
    val relevant = idx0.join(
      broadcast(probes.select(col("band"), col("bucket")).distinct()),
      Seq("band", "bucket"), "left_semi")
    val idx = capBucketsPruned(relevant, maxBucketSize)
    val joined = idx.alias("o").join(
      broadcast(probes.select(col("id"), col("sig"), col("band"), col("bucket")).alias("nw")),
      col("o.band") === col("nw.band") && col("o.bucket") === col("nw.bucket"))
    val matches = (0 until p.k).map(i =>
      when(element_at(col("nw.sig"), i + 1) === element_at(col("o.sig"), i + 1), 1)
        .otherwise(0)).reduce(_ + _)
    joined
      .select(col("nw.id").as("new_id"), col("o.id").as("old_id"),
        round(matches.cast("double") / lit(p.k.toDouble), 4).as("match_frac"))
      // filter BEFORE the distinct: match_frac is deterministic per pair, so
      // the result is identical, and sub-threshold candidates (the bulk of
      // band collisions) never enter the dedup shuffle
      .filter(col("match_frac") >= minMatchFrac)
      .distinct() // a pair matching in several bands is one candidate
  }

  /** Cap by DISTINCT ids per (band, bucket): replay artifacts (ad-hoc
    * double-appends) and multi-span re-index rows of the same doc must not
    * push a genuinely-hot bucket over the cap — a dropped bucket is a silent
    * near-dup false negative. Left-semi keeps member rows untouched (no
    * arbitrary pick among a doc's versions). */
  private def capBucketsPruned(idx: DataFrame, maxBucketSize: Int): DataFrame =
    if (maxBucketSize <= 0) idx
    else {
      val sizes = idx.groupBy(col("band"), col("bucket"))
        .agg(count_distinct(col("id")).as("_bsz"))
        .filter(col("_bsz") <= maxBucketSize)
        .select(col("band").as("_cb_band"), col("bucket").as("_cb_bucket"))
      idx.join(sizes,
        idx("band") === col("_cb_band") && idx("bucket") === col("_cb_bucket"),
        "left_semi")
    }

  /** Tags of the span directories currently in the index (the ad-hoc
    * accumulator included), lexicographically sorted. Driver-side list:
    * O(spans). */
  def spanTags(dir: Path): Seq[String] = MetaFiles.list(bandsDir(dir)) { p =>
    val name = p.getFileName.toString
    Option.when(name.startsWith("span="))(name.stripPrefix("span="))
  }.sorted

  /** `(tag, visible parquet bytes)` per span — the fold policy's input
    * ([[graft.ops.Curate.maybeCompactSpans]] folds smallest-first, the
    * size-tiered discipline that keeps write amplification logarithmic).
    * Driver-side walk: O(files), and spans hold one file per touched
    * shard. */
  def spanSizes(dir: Path): Seq[(String, Long)] = spanTags(dir).map { t =>
    val d = if (t == AdhocTag) adhocDir(dir) else spanDir(dir, t)
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    def go(x: Path): Long = MetaFiles.list(x) { p =>
      val n = p.getFileName.toString
      Option.when(!hidden(n))(
        if (Files.isDirectory(p)) go(p) else if (n.endsWith(".parquet")) Files.size(p) else 0L)
    }.sum
    (t, go(d))
  }

  /** COMPACT closed spans: fold the rows of `tags`' span directories into
    * ONE fresh span (`span=<outTag>`) and delete the inputs — the LSM fold
    * for the index's append-only span log. Every append adds a directory,
    * and each probe re-lists all of them, so an insert-heavy curator (where
    * the staleness-driven [[rebuild]] cadence rarely fires) would otherwise
    * grow probe listing cost without bound; compaction is the cheap lever —
    * a parquet-only copy of O(folded rows), no re-shingling, no table read.
    *
    * Exact full-row `distinct` runs inside the fold: crash-replay artifacts
    * (a retried fold reading a previous half-deleted attempt) are exact
    * duplicate rows, and dropping only EXACT duplicates can never pick
    * among a doc's genuinely different signatures. Crash anywhere →
    * duplicates at worst, never loss: the output span is fully written
    * before any input is deleted, duplicate rows are semantically inert
    * (bucket caps count DISTINCT ids; candidate pairs are `distinct`ed),
    * and the next fold removes them. `outTag` must not be an input (a
    * parquet overwrite deletes its target before reading — self-read):
    * callers derive a fresh generation tag, see [[graft.ops.Curate]].
    * Single-maintenance like [[rebuild]]: run from the writer's own loop.
    * Returns the folded (doc, band) row count. */
  def compactSpans(spark: SparkSession, dir: Path, tags: Seq[String],
      outTag: String): Long = {
    loadChecked(dir): Unit
    validateTag(outTag)
    require(!tags.contains(outTag), s"output span '$outTag' is also an input")
    require(tags.nonEmpty, "no spans to compact")
    val all = tags.map { t =>
      val d = if (t == AdhocTag) adhocDir(dir) else spanDir(dir, t)
      require(Files.isDirectory(d), s"span '$t' not found at $d")
      d
    }
    // a span dir with no VISIBLE parquet leaf — an empty-batch append, or a
    // crashed fold's output holding only `_temporary` staging — contributes
    // nothing and would break schema inference as a read root; drop it (the
    // crashed-fold case is the self-heal the contract promises)
    val (ins, empty) = all.partition(hasVisibleParquet)
    empty.foreach(graft.lake.LakeTable.deleteRecursively)
    if (ins.isEmpty) return 0L
    val obs = org.apache.spark.sql.Observation()
    // one read per input span with basePath pinned to the span dir: a single
    // multi-root read would try to infer one partitioning across roots whose
    // shared parent also holds the other span= dirs, and fail
    ins.map(d => spark.read.option("basePath", d.toString).parquet(d.toString))
      .reduce(_ unionByName _)
      .distinct()
      .observe(obs, count(lit(1)).as("n"))
      .repartition(col("pb"))
      .write.mode("overwrite").partitionBy("pb")
      .parquet(spanDir(dir, outTag).toString)
    val n = obs.get("n").asInstanceOf[Long]
    ins.foreach(graft.lake.LakeTable.deleteRecursively)
    n
  }

  /** REBUILD the index from a corpus snapshot — the GC lever for stale
    * entries: appends only ever ADD rows, so a deleted document's bands and
    * an updated document's previous-content signatures stay in the index
    * until a rebuild drops them (they cost probe-side candidate fan-out and
    * bucket-cap pressure, and a stale-sig match is near-dup evidence against
    * content that no longer exists). The rebuild re-shingles `liveDocs`,
    * writes a complete fresh index NEXT TO the live one (same `params.json`
    * shape, one `span=<tag>` directory), and swaps — after it, the index
    * equals `create` + one `append` of `liveDocs`, bit for bit.
    *
    * Swap protocol ([[graft.lake.MetaFiles.swapDir]]): build
    * under `<dir>.rebuild-<nonce>` (probes never see it), `beforeSwap` runs
    * against the finished fresh tree and its (doc, band) row count (install
    * sidecar state — e.g. the curation cursor with its reset GC growth
    * baseline — so the swap publishes index + state atomically), then
    * `dir → <dir>.old-<nonce>` and `rebuild → dir` (two atomic renames) and
    * the old tree is deleted. Probes re-list per call: the only hazard is
    * the instant between the renames — a concurrent probe fails loudly on
    * the missing dir (retry); it can never observe a mix of old and new
    * spans. Crash between the renames: restore by renaming `.old-<nonce>`
    * back. Concurrent APPENDERS are not supported during the swap (their
    * span write fails loudly and replays after restart — pause the curator
    * or rely on its span-keyed replay); rebuild cost is O(corpus) by design,
    * the periodic-maintenance price of an append-only index. */
  def rebuild(spark: SparkSession, liveDocs: DataFrame, textCol: String,
      idCol: String, dir: Path, span: String = "rebuilt",
      beforeSwap: (Path, Long) => Unit = (_, _) => ()): Long = {
    val p = load(dir)
    MetaFiles.swapDir(dir) { fresh =>
      create(fresh, p)
      val n = append(liveDocs, textCol, idCol, fresh, Some(span))
      beforeSwap(fresh, n)
      n
    }
  }

  /** Convenience: probe-then-append in the canonical ingest order — returns
    * the batch's near-dups against everything indexed BEFORE it.
    *
    * The probe result is `localCheckpoint`ed (eager), not merely cached,
    * BEFORE the append: writing to a path invalidates-and-RECOMPUTES any
    * cached plan reading that path (`CacheManager.recacheByPath`), so a
    * persisted probe result would silently refresh to include the batch's
    * own rows — matching the batch against itself. The checkpoint truncates
    * the lineage away from the index files entirely. */
  def probeAndAppend(spark: SparkSession, batch: DataFrame, textCol: String,
      idCol: String, dir: Path, minMatchFrac: Double = 0.5,
      maxBucketSize: Int = 1000, span: Option[String] = None): DataFrame =
    probeAndAppendCounted(spark, batch, textCol, idCol, dir, minMatchFrac,
      maxBucketSize, span)._1

  /** [[probeAndAppend]] plus the appended (doc, band) row count — the
    * growth signal [[graft.ops.Curate]] feeds its GC-rebuild cadence. */
  def probeAndAppendCounted(spark: SparkSession, batch: DataFrame,
      textCol: String, idCol: String, dir: Path, minMatchFrac: Double = 0.5,
      maxBucketSize: Int = 1000, span: Option[String] = None): (DataFrame, Long) = {
    val p = loadChecked(dir)
    // Compute the signature pipeline ONCE per batch: probe + append drive
    // FOUR actions over the band rows (shard-list collect, two broadcast
    // builds, span write), and the minhash kernel (k md5 chains over every
    // shingle) re-ran for each — measured as most of the curated stream's
    // flat ~4 s/batch probe cost. Caching rows (not docs) is safe against
    // the recacheByPath hazard below: the rows' lineage never reads the
    // index path, so the append cannot refresh them.
    val rows = probeRows(batch, textCol, idCol, p)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val out = nearDupsOfProbes(spark, rows, p, dir, minMatchFrac, maxBucketSize)
        .localCheckpoint(true)
      (out, appendRows(rows, p, dir, span))
    } finally rows.unpersist(): Unit
  }
}
