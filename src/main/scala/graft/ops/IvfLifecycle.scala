package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Round-17 — ONE persisted IVF index artifact threaded through the
  * whole lifecycle (VERDICT r16 task 3): the
  * `llm_sim_topk_ivf_persisted` / `_append` / `_delete` /
  * `llm_ivf_drift_audit` keys previously each rebuilt their own
  * O(N·k) cell assignment per invocation — three full builds per
  * bench run, where a production pipeline pays the build once per
  * corpus version and threads the SAME index through
  * append → drift-audit → delete → compact.
  *
  * The artifact is PER-APPLICATION: it lives at
  * `<java.io.tmpdir>/graft_ivf_shared/graft_ivf_lc_<dir>_app_<appid>`,
  * outside the per-application sink root, so the four lifecycle keys
  * of one application share one build and every bench or verify
  * invocation (a fresh JVM) pays the one O(N·k) build it claims to
  * pay. Round 18 also built a cross-application adoption path (a
  * corpus fingerprint plus a validated manifest let a later
  * application reuse an earlier one's artifact); it was opt-in,
  * because adoption made every timed run but the first skip the
  * build, no key selected it, and it has been removed.
  * Liveness is heartbeat-based: every `resolve` touches
  * `<root>/heartbeat`, the stale sweep only removes artifacts under
  * the shared root whose heartbeat is over an hour old, and a cache
  * hit re-verifies the directories still exist (a concurrent
  * application's sweep can no longer strand this one's cached
  * handle — it rebuilds instead of failing with
  * FileNotFoundException).
  *
  * The artifact is IMMUTABLE once built — maintenance keys write
  * their own overlays (tombstone table, compacted partitions, the
  * compaction manifest) beside it, never into it, so the keys stay
  * order-independent and re-runnable (BenchOne MIX repeats a single
  * key 20×; nothing may depend on which lifecycle key ran first).
  * Pieces, all under one `<root>/`:
  *
  *  - `cents` — the ≤ 4096-row centroid SIDECAR, derived from the
  *    BASE corpus (every vector except the deterministic append
  *    batch, vec_id % 50 = 17). Written FIRST: it is the single
  *    assignment authority for every other piece (round 16's weak-key
  *    conversion, kept).
  *  - `base` — the BASE segment: the base corpus assigned against
  *    the sidecar (the one O(N·k) pass), laid out as a parquet dir
  *    PARTITIONED BY cell-group (pgrp = xxhash64(cell) % 64,
  *    [[Pipelines32.pgrpOf]]) with write tasks range-clustered and
  *    sorted on cell, so probed-cell INs prune partition dirs AND row
  *    groups (both measured in round 16 — BytesProbe: decode volume
  *    ∝ probed-cell fraction).
  *  - `delta` — the APPEND segment: the batch assigned against the
  *    SIDECAR (O(|batch|·k), never an index scan — the r15→r16
  *    append contract), same layout. The full-corpus index IS
  *    base ∪ delta — the immutable-segment-plus-delta file set every
  *    log-structured table format serves reads from.
  *  - a BUCKETED catalog twin ([[resolveBucketed]]), built from the
  *    segments by RE-LAYOUT (no second assignment): base written
  *    bucketed-by-cell, delta bucket-APPENDED — the construction is
  *    itself the incremental-append maintenance path. Its catalog
  *    entry lives in this session's metastore.
  *
  * Scale note, retired as a warning in round 18 (VERDICT r17 task 1):
  * the sidecar holds BASE-derived centroids (stride = max(50,
  * |base| div 4096)). The r17 `_persisted`/`_append` DuckDB oracles
  * derived centroids from the FULL corpus, which coincides with the
  * sidecar only below the 204 800-row stride switchover — the build
  * emitted a stderr warning past it. The oracles now mirror the
  * base-corpus derivation (`Pipelines4.duckIvfCandCtes`'s centPred),
  * exactly as the delete/drift oracles already did, so the
  * differential is exact at ANY corpus size and nothing warns.
  */
object IvfLifecycle {

  /** Bumped whenever the assignment semantics or on-disk layout
    * change: the compaction manifest records it, so a new code
    * version never trusts an old overlay. */
  private[graft] val FormatVersion = 3L

  /** Handle to the built artifact. `schema` pins the pgrp partition
    * column to BIGINT at the source (ADVICE r16 item 3: directory
    * partition-type inference reads `pgrp=42` back as INT, and every
    * downstream `isin(Long)` then leans on cast-unwrapping for its
    * partition pruning — a user-supplied schema gives all readers one
    * stable type with pruning intact). */
  final case class Shared(root: String, baseRoot: String, deltaRoot: String,
                          centsRoot: String, schema: StructType,
                          nBase: Long, nDelta: Long) {
    def sidecar(s: SparkSession): DataFrame = s.read.parquet(centsRoot)
    def baseSeg(s: SparkSession): DataFrame = segmentAt(s, baseRoot, schema)
    def deltaSeg(s: SparkSession): DataFrame = segmentAt(s, deltaRoot, schema)
    /** The full-corpus index: immutable base segment + appended delta. */
    def fullIndex(s: SparkSession): DataFrame =
      baseSeg(s).unionAll(deltaSeg(s))
  }

  private val built =
    scala.collection.mutable.Map[(String, String), Shared]()
  private val builtBucketed =
    scala.collection.mutable.Map[(String, String), String]()

  private def cacheKey(s: SparkSession, d: String): (String, String) =
    (s.sparkContext.applicationId, d)

  /** The artifacts' parent (NOT under any per-app graft_sink_* dir —
    * those are swept by app-scoped rules). */
  private def sharedRoot: String =
    sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_ivf_shared"

  /** This application's artifact root for the dataset dir `d`. */
  private def artifactRoot(s: SparkSession, d: String): String =
    sharedRoot + "/graft_ivf_lc_" +
      d.replaceAll("[^A-Za-z0-9]", "_").toLowerCase + "_app_" +
      s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_").toLowerCase

  private def touchHeartbeat(root: String,
                             name: String = "heartbeat"): Unit = try {
    val hb = new java.io.File(root, name)
    if (!hb.exists()) hb.createNewFile()
    hb.setLastModified(System.currentTimeMillis())
  } catch { case _: Exception => () }

  /** Sweep grace for the heartbeat-based stale rules (this object and
    * [[Pipelines31.cleanStaleIndexes]]). The heartbeat is touched at
    * RESOLVE time only, so the grace must exceed the longest single
    * query an application runs against an already-resolved artifact
    * (round-18 review: a > grace query with no intervening resolve
    * is sweepable mid-flight by a foreign application — the
    * resolve-side existence re-check protects the NEXT resolve, not
    * an executing job). 1 h covers every measured workload here by
    * two orders of magnitude. */
  private[graft] val sweepGraceMs: Long = 3600L * 1000

  /** Heartbeat-based sweep of the shared root (ADVICE r17 item 1):
    * an artifact is removable only when its heartbeat — touched by
    * every resolve, including cache hits — is over [[sweepGraceMs]]
    * stale, so a live concurrent application keeps its artifact
    * alive by using it; this JVM's own cached roots are excluded
    * outright. (The victim-side half of the fix is in [[resolve]]: a
    * cache hit re-verifies the dirs exist and rebuilds if swept.) */
  private def sweepSharedStale(keep: String): Unit = try {
    val cutoff = System.currentTimeMillis() - sweepGraceMs
    val live = built.values.map(_.root).toSet + keep
    Option(new java.io.File(sharedRoot).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_ivf_lc_") &&
                   !live.contains(f.getPath))
      .filter { f =>
        val hb = new java.io.File(f, "heartbeat")
        (if (hb.exists()) hb.lastModified()
         else Pipelines31.newestMtime(f)) < cutoff
      }
      .foreach(Pipelines31.rmRf)
  } catch { case _: Exception => () }

  /** Segment reader with the pgrp partition column pinned to BIGINT
    * (one copy — shared by [[Shared]] and the manifest view, which
    * must read segments without a Shared handle). */
  private[graft] def segmentAt(s: SparkSession, root: String,
                               schema: StructType): DataFrame =
    s.read.schema(schema).parquet(root)

  private def pinnedSchema(s: SparkSession, root: String): StructType =
    StructType(s.read.parquet(root).schema.map(f =>
      if (f.name == "pgrp") StructField("pgrp", LongType, f.nullable)
      else f))

  /** Build-if-absent, then reuse for the life of the application.
    * Whichever lifecycle key runs first pays the one O(N·k) build;
    * every later key reads. */
  def resolve(s: SparkSession, d: String): Shared = synchronized {
    val key = cacheKey(s, d)
    built.get(key) match {
      // A cache hit must re-verify liveness: a foreign sweep may have
      // removed the dirs.
      case Some(sh) if new java.io.File(sh.baseRoot).exists() &&
                       new java.io.File(sh.deltaRoot).exists() &&
                       new java.io.File(sh.centsRoot).exists() =>
        touchHeartbeat(sh.root); sh
      case stale =>
        // Swept under us, or first call: drop the stranded handles
        // and build.
        if (stale.isDefined) { built.remove(key); builtBucketed.remove(key) }
        Pipelines31.cleanStaleIndexes(s) // per-app twins/overlays
        val root = artifactRoot(s, d)
        sweepSharedStale(root)
        val sh = build(s, d, root)
        built.put(key, sh)
        touchHeartbeat(sh.root)
        sh
    }
  }

  /** Builds the three segments straight into `root`. Every write is
    * an overwrite, so a rebuild over a partly swept root starts
    * clean; the heartbeat is touched at each phase boundary so a
    * foreign sweep's liveness rule covers a build in progress. */
  private def build(s: SparkSession, d: String, root: String): Shared = {
    new java.io.File(root).mkdirs()
    touchHeartbeat(root)
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    val base = e.filter(col("vec_id") % 50 =!= 17)
    val batch = e.filter(col("vec_id") % 50 === 17)
    Pipelines31.centroidsOf(base).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/cents")
    touchHeartbeat(root)
    val sidecar = s.read.parquet(s"$root/cents")
    def layout(rows: DataFrame): DataFrame =
      Pipelines31.assignCells(s, rows, sidecar)
        .withColumn("pgrp", Pipelines32.pgrpOf(col("cell")))
        .repartitionByRange(col("pgrp"), col("cell"))
        .sortWithinPartitions("cell")
    layout(base).write.mode("overwrite")
      .partitionBy("pgrp").parquet(s"$root/base")
    touchHeartbeat(root)
    layout(batch).write.mode("overwrite")
      .partitionBy("pgrp").parquet(s"$root/delta")
    touchHeartbeat(root)
    val schema = pinnedSchema(s, s"$root/base")
    // Parquet-metadata-only counts; they feed the bucketed twin's
    // write-time bucket derivation.
    val nBase = s.read.schema(schema).parquet(s"$root/base").count()
    val nDelta = s.read.schema(schema).parquet(s"$root/delta").count()
    Shared(root, s"$root/base", s"$root/delta", s"$root/cents",
           schema, nBase, nDelta)
  }

  /** The bucketed catalog twin of the shared index (the
    * `llm_sim_topk_ivf_persisted`/`_append` read layout: cell-bucket
    * pruning via SelectedBucketsCount + sorted row groups): a
    * RE-LAYOUT of the already-assigned segments — one corpus read +
    * bucketed write, no second O(N·k) scoring pass — with the delta
    * segment bucket-APPENDED after the base overwrite, so the table's
    * own construction is the incremental-append path the `_append`
    * key declares. Returns (table name, sidecar). Heartbeat + sweep
    * handling mirrors [[resolve]]: a `_graft_heartbeat` file inside
    * the table dir keeps a live session's twin out of foreign
    * sweeps' cutoff, and a cache hit whose files were swept anyway
    * rebuilds instead of stranding the catalog entry. */
  def resolveBucketed(s: SparkSession, d: String): (String, DataFrame) =
    synchronized {
      val sh = resolve(s, d)
      val key = cacheKey(s, d)
      def path(name: String) = s"${Sinks.sinkRoot(s)}/$name"
      val tbl = builtBucketed.get(key) match {
        case Some(name) if new java.io.File(path(name)).exists() => name
        case stale =>
          stale.foreach { name =>
            builtBucketed.remove(key)
            try s.sql(s"DROP TABLE IF EXISTS default.`$name`")
            catch { case _: Exception => () }
          }
          val name = Sinks.ident(s, "graft_ivf_index", d)
          val n = sh.nBase + sh.nDelta
          val nb = Pipelines31.ivfNumBuckets(n)
          // Fixture scale: one writer task per segment keeps file
          // count at ≤ |buckets| per segment (the tiny-file × task
          // guard); past it the write runs range-clustered at full
          // parallelism so row groups stay narrow on cell (round 16,
          // measured).
          def seg(df: DataFrame): DataFrame = {
            val projected = df.select("vec_id", "embedding", "cell")
            if (n <= 250000L) projected.coalesce(1)
            else projected.repartitionByRange(col("cell"))
          }
          seg(sh.baseSeg(s)).write.mode("overwrite")
            .bucketBy(nb, "cell").sortBy("cell")
            .option("path", path(name))
            .saveAsTable(name)
          seg(sh.deltaSeg(s)).write.mode("append")
            .bucketBy(nb, "cell").sortBy("cell")
            .saveAsTable(name)
          builtBucketed.put(key, name)
          name
      }
      touchHeartbeat(path(tbl), "_graft_heartbeat")
      (tbl, sh.sidecar(s))
    }

  /** The `_append` key's construction assertion (VERDICT r17 task 6 /
    * ADVICE r17 item 3): post-consolidation its query job equals
    * `_persisted`'s, so the key's body verifies the delta
    * bucket-APPEND observably — the twin's files carry ≥ 2 distinct
    * write-job ids (base overwrite, then delta append) and the merged
    * count equals base + delta. Cheap: one local listing + one
    * parquet-metadata count. */
  private[graft] def assertTwoWriteHistory(s: SparkSession, d: String,
                                           tbl: String): Unit = {
    val sh = resolve(s, d)
    val loc = new java.io.File(s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location)
    val uuid = ("[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-" +
                "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}").r
    val writes = Option(loc.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
      .flatMap(f => uuid.findFirstIn(f.getName)).distinct
    // An empty delta segment (a corpus with no vec_id ≡ 17 mod 50)
    // legitimately appends zero part files — the contract is then
    // one write, not two (round-18 review).
    val expectedWrites = if (sh.nDelta > 0) 2 else 1
    require(writes.size >= expectedWrites,
      s"bucketed twin $tbl lacks the two-write history (base overwrite " +
        s"+ delta bucket-append): ${writes.size} distinct write ids, " +
        s"expected >= $expectedWrites for delta of ${sh.nDelta} rows")
    val n = s.table(tbl).count()
    require(n == sh.nBase + sh.nDelta,
      s"bucketed twin $tbl holds $n rows, expected base ${sh.nBase} " +
        s"+ delta ${sh.nDelta}")
  }

  /** The post-compaction view served from the PERSISTED manifest
    * alone (VERDICT r17 task 4): the delete key writes a one-row
    * manifest (segment roots, compact root, affected groups) beside
    * its COW output, and ANY reader — this application or a later
    * one — reconstructs the compacted index from it without
    * re-deriving `affected`: unaffected cell-groups from the shared
    * segments, affected groups from the compact root. A
    * fully-tombstoned group simply has no files on the compact side
    * and is excluded from the shared side by the partition filter —
    * no directory deletion on any filesystem. */
  def compactedViewFromManifest(s: SparkSession,
                                manifestRoot: String): DataFrame = {
    // Fail with intent, not a raw read error (round-18 review): a
    // missing manifest is a swept/never-written overlay, and a
    // version mismatch means this code must not trust the layout the
    // manifest describes.
    require(new java.io.File(manifestRoot).exists(),
      s"no compaction manifest at $manifestRoot")
    val m = s.read.parquet(manifestRoot).head()
    val ver = m.getAs[Long]("format_version")
    require(ver == FormatVersion,
      s"compaction manifest $manifestRoot is format v$ver; " +
        s"this reader understands v$FormatVersion only")
    val affected = m.getAs[scala.collection.Seq[Long]]("affected_pgrps").toSeq
    val schema = pinnedSchema(s, m.getAs[String]("base_root"))
    val full = segmentAt(s, m.getAs[String]("base_root"), schema)
      .unionAll(segmentAt(s, m.getAs[String]("delta_root"), schema))
    full.filter(!col("pgrp").isin(affected: _*))
      .unionAll(segmentAt(s, m.getAs[String]("compact_root"), schema))
  }

  /** Writes the delete key's compaction manifest — the one copy of
    * its schema, read back by [[compactedViewFromManifest]]. */
  private[graft] def writeCompactionManifest(s: SparkSession, sh: Shared,
      compactRoot: String, affected: Seq[Long],
      manifestRoot: String): Unit = {
    import s.implicits._
    Seq((FormatVersion, sh.baseRoot, sh.deltaRoot, compactRoot, affected))
      .toDF("format_version", "base_root", "delta_root", "compact_root",
            "affected_pgrps")
      .coalesce(1).write.mode("overwrite").parquet(manifestRoot)
  }
}
