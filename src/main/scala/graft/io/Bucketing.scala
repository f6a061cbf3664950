package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table support: pre-shuffle once at write time so repeated
  * equi-joins and aggregations on the bucket key run with NO exchange.
  * This is the canonical 100 TB pattern for a fact table joined on the
  * same key by many downstream queries — pay one shuffle at ingest,
  * amortize it over every join after.
  *
  * Spark bucketing requires the table catalog (`saveAsTable`); bucket
  * info lives in catalog metadata, not parquet files.
  */
object Bucketing {

  /** Drop a managed table AND its leftover warehouse directory. A fresh
    * metastore with a stale warehouse dir (prior JVM wrote the files, this
    * one never registered the table) makes plain DROP TABLE a no-op while
    * saveAsTable still fails with LOCATION_ALREADY_EXISTS.
    *
    * Partitioned tables get their partition entries dropped METADATA-ONLY
    * first (`retainData = true`): after an ALTER TABLE RENAME the
    * catalog's per-partition locations still point at the PRE-rename
    * directory, and a plain DROP follows those stale pointers — deleting
    * whatever lives there NOW (in the compaction swap, the freshly
    * compacted live table; caught by ChaosSpec). The table's real data
    * sits under its own location and is removed with the table itself. */
  def dropTable(spark: SparkSession, table: String): Unit = {
    val cat = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    if (cat.tableExists(ident) &&
        cat.getTableMetadata(ident).partitionColumnNames.nonEmpty) {
      val specs = cat.listPartitions(ident).map(_.spec)
      if (specs.nonEmpty)
        cat.dropPartitions(ident, specs, ignoreIfNotExists = true,
          purge = false, retainData = true)
    }
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(s"$wh/$table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Table-property key distinguishing persisted index FAMILIES that
    * share a column layout. The line-df index (md5 segment digests) and
    * the window-df index (xxhash64 window hashes) are both
    * `(h, df_corpus[, batch_id])`, so a column-set guard alone cannot
    * tell them apart — and probing a destructive rewrite against the
    * wrong family's counts is precisely the failure the guards exist
    * to prevent. Builders stamp their kind at create time; probes
    * check it with [[requireKind]]. */
  val KindProperty = "graft.index.kind"

  /** Stamp the index-family kind on a table (idempotent). */
  def stampKind(spark: SparkSession, table: String, kind: String): Unit =
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('$KindProperty' = '$kind')")

  def tableKind(spark: SparkSession, table: String): Option[String] =
    tableProperty(spark, table, KindProperty)

  /** Read one table property (None when unset). */
  def tableProperty(spark: SparkSession, table: String,
                    key: String): Option[String] =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
      .properties.get(key)

  /** GEOMETRY STAMPS (VERDICT r19 item 3): the banding / quantizer
    * parameters an index is provisioned with, persisted as table
    * properties at build time so the SQL surface can re-read them at
    * APPEND/PROBE instead of trusting an operator to repeat them — the
    * q71 pinning doctrine moved into metadata. All `graft.*`-prefixed,
    * so every compaction/purge swap carries them automatically. */
  val LshTablesProperty = "graft.index.lshTables"
  val LshBitsProperty = "graft.index.lshBits"
  val CentroidsProperty = "graft.index.centroids"
  val CentroidsTableProperty = "graft.index.centroidsTable"

  /** Stamp a set of graft.* properties in ONE metastore round-trip. */
  def stampProperties(spark: SparkSession, table: String,
                      props: Map[String, String]): Unit =
    if (props.nonEmpty)
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
        props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")

  /** Fail loudly when `table` is stamped as a DIFFERENT index family.
    * An unstamped table (foreign, or predating the stamp) falls through
    * to the caller's column-layout guard — the stamp narrows the
    * guard's blind spot (same-schema families) without rejecting
    * legacy tables. */
  def requireKind(spark: SparkSession, table: String, expected: String): Unit =
    tableKind(spark, table).foreach { kind =>
      require(kind == expected,
        s"$table is a '$kind' index, not the '$expected' index this probe " +
          "expects — same column layout, different hash family; joining it " +
          "would silently resolve against unrelated hashes")
    }

  /** Write `df` as a bucketed, sorted table on `key`. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
                    mode: SaveMode = SaveMode.Overwrite): Unit =
    writeBucketedMulti(df, table, Seq(key), buckets, mode)

  /** Multi-key variant: bucket AND sort on the full key sequence, in
    * order. Needed when the downstream join clusters on several keys —
    * `spark.sql.requireAllClusterKeysForCoPartition` (default true)
    * rejects a partial-key bucket layout for co-partitioned joins, so a
    * table bucketed on a key SUBSET would be silently re-shuffled (and
    * its bucketed scan disabled by the planner), defeating the layout. */
  def writeBucketedMulti(df: DataFrame, table: String, keys: Seq[String],
                         buckets: Int,
                         mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Partitioned + bucketed layout: directory-partition on `partKey`
    * (a low-cardinality maintenance key — batch id, ingest day) AND
    * bucket on `key` within every partition. The partition column makes
    * per-batch maintenance a DIRECTORY operation (overwrite one
    * partition, prune to one directory) while the bucket layout keeps
    * the probe-side joins/aggregations on `key` exchange-free — Spark's
    * bucketed scan folds bucket i's files ACROSS partitions into task i,
    * so the hash distribution on `key` survives any number of partition
    * directories. */
  def writePartitionedBucketed(df: DataFrame, table: String, partKey: String,
                               key: String, buckets: Int,
                               mode: SaveMode = SaveMode.Overwrite): Unit =
    writePartitionedBucketedMulti(df, table, partKey, Seq(key), buckets, mode)

  /** Multi-key variant of [[writePartitionedBucketed]] — partition on
    * `partKey`, bucket+sort on the FULL key sequence (the
    * [[writeBucketedMulti]] rationale: a co-partitioned join needs every
    * cluster key in the layout). */
  def writePartitionedBucketedMulti(df: DataFrame, table: String,
                                    partKey: String, keys: Seq[String],
                                    buckets: Int,
                                    mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .partitionBy(partKey)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Overwrite EXACTLY the partitions present in `df` (dynamic partition
    * overwrite), leaving every other partition untouched. This is the
    * idempotent-replay primitive for per-batch index maintenance: a
    * replayed batch rewrites its own partition with identical content,
    * and a TORN partition (a crash during the previous attempt's job
    * commit — FileFormatWriter moves task files one by one, so a partial
    * batch CAN persist) is healed by the rewrite rather than trusted by
    * a presence check. Runs under the DataFrame's OWN session (inside
    * foreachBatch that is the micro-batch's cloned session, whose conf
    * is what the insert actually reads). */
  def overwritePartitions(df: DataFrame, table: String): Unit =
    withDynamicOverwrite(df.sparkSession) {
      df.write.mode(SaveMode.Overwrite).insertInto(table)
    }

  /** Pin `partitionOverwriteMode=dynamic` on the session for the scope
    * of `body`, REFERENCE-COUNTED per session: two [[concurrently]]
    * writers on one session both need the pin, and a naive set/restore
    * pair races — the first writer's restore could flip the sibling's
    * still-planning insert back to static, which TRUNCATES its target
    * (caught live by MetastoreBudgetSpec when a per-write option was
    * tried instead: `insertInto` ignores writer options, the session
    * conf is the only channel). The first pinner captures the previous
    * value, the last restores it; bookkeeping is under one JVM lock
    * (two threads per batch — contention is nil) and weak-keyed so
    * per-micro-batch session clones don't accumulate. */
  private val dynPinLock = new Object
  private val dynPinCounts =
    new java.util.WeakHashMap[SparkSession, (Int, String)]()
  private def withDynamicOverwrite[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    dynPinLock.synchronized {
      val (n, prev) = Option(dynPinCounts.get(spark)).getOrElse((0, ""))
      val p = if (n == 0) {
        val pv = spark.conf.get(key); spark.conf.set(key, "dynamic"); pv
      } else prev
      dynPinCounts.put(spark, (n + 1, p))
    }
    try body
    finally dynPinLock.synchronized {
      val (n, prev) = dynPinCounts.get(spark)
      if (n == 1) { spark.conf.set(key, prev); dynPinCounts.remove(spark) }
      else dynPinCounts.put(spark, (n - 1, prev))
    }
  }

  /** Run two INDEPENDENT write actions concurrently on one session
    * (guide §2.6 — overlap independent jobs): Spark's scheduler happily
    * runs several jobs at once inside one application; the two-table
    * index writers (bands + payload / bands + sigs) called their writes
    * sequentially only because the code did, leaving the cluster idle
    * through each job's scheduling and commit tail. `b` runs on a FRESH
    * thread (job submission is thread-safe; Spark's local properties
    * are an InheritableThreadLocal, so a thread created HERE inherits
    * the caller's job group/description — a pooled executor would not),
    * `a` on the caller's; both complete before return, and the first
    * failure propagates only after both finished, so no caller ever
    * leaks a still-running sibling job.
    *
    * Caller contract: the two actions must touch DIFFERENT tables.
    * Both threads share the session conf, so the ONLY conf mutation
    * allowed inside either action is the ref-counted
    * [[withDynamicOverwrite]] pin (its count keeps one writer's restore
    * from flipping the sibling's still-planning insert). Any other
    * session-conf mutation inside `concurrently` is forbidden. */
  def concurrently(a: => Unit, b: => Unit): Unit = {
    @volatile var bErr: Throwable = null
    val t = new Thread(() => try b catch { case e: Throwable => bErr = e })
    t.setName(s"graft-concurrent-write-${t.getId}")
    t.setDaemon(true)
    t.start()
    val aErr = try { a; null } catch { case e: Throwable => e }
    t.join()
    if (aErr != null) throw aErr
    if (bErr != null) throw bErr
  }

  /** Table-property key recording the max batch_id the last
    * auto-compaction folded — [[maybeCompact]]'s cadence cursor.
    * Carried through the compaction rewrite like every graft.* stamp;
    * a crash between compaction and the stamp only means the next
    * maybeCompact re-compacts (idempotent rewrite, never wrong). */
  val CompactedAtProperty = "graft.index.compactedAt"

  /** Table-property key stamped by [[foldBucketed]]: the highest
    * batch_id whose partial was FOLDED into the index's summed rows —
    * the replay watermark for the additive-df families (the
    * [[Tombstones.PurgedThroughProperty]] device applied to partials).
    * A fold destroys per-batch partition identity (every folded
    * batch's rows merge into one summed partition), so a replayed
    * partial at/below this watermark can no longer idempotently
    * overwrite "its own" partition — landing it would double-count
    * counts the fold already absorbed. [[appendPartialInto]] therefore
    * no-ops any batch at/below the watermark. Batch ids are
    * monotonically increasing per table (stream micro-batch ids or a
    * 0,1,2… sequence — the [[Tombstones]] contract), so one O(1)
    * property covers the whole replay history. Stamped on the
    * REPLACEMENT table before the swap, so the watermark and the
    * folded content become visible atomically — no crash window shows
    * folded rows without the watermark that protects them. */
  val FoldedThroughProperty = "graft.index.foldedThrough"

  /** The five additive-df index kinds whose per-batch partials sum to
    * the global counts — the families [[foldBucketed]] may rewrite.
    * (`bench-grams` is additive too but rebuild-only by ADR, SURVEY
    * §2.25: set semantics, no retraction partials, nothing to fold.) */
  val AdditiveKinds: Set[String] =
    Set("shingle-df", "line-df", "window-df", "tok-counts", "bm25-df")

  /** TIERED-FOLD level markers (VERDICT r19 item 2). The additive-df
    * index is physically a set of batch_id partitions; the tiered fold
    * organizes them into LSM-style levels WITHOUT changing what a
    * probe reads (probes sum every partition regardless):
    *
    *  - BASE: the one partition holding the long-term folded mass,
    *    at `batch_id = baseAt`.
    *  - RUN: one bounded partition holding everything folded since the
    *    last base merge, at `batch_id = runAt` (absent = no run).
    *  - FRESH: per-batch partials above the [[FoldedThroughProperty]]
    *    watermark.
    *
    * Invariant: baseAt < runAt <= foldedThrough < every fresh id.
    * The run level may carry NEGATIVE sums (a retraction of a key that
    * lives in base stays pending in the run until the base merge);
    * probes are safe because they sum base + run before any sign
    * check. Zero sums are dropped at both levels; a negative TOTAL is
    * corruption and still fails loudly — in the probe (which checks
    * the summed value) and in the base merge (raise_error). */
  val BaseAtProperty = "graft.index.baseAt"
  val RunAtProperty = "graft.index.runAt"

  /** Row count of the base partition, stamped by [[foldBucketed]] at
    * base-merge time — the only event that changes it (VERDICT r20
    * item 3). [[tieredFold]]'s run-vs-merge decision reads this stamp
    * instead of counting the base partition: `count()` is footer-only
    * in bytes but still lists and opens every base data file's footer,
    * an O(base files) filesystem pass per cadence window — the very
    * dependence on index size the tiered fold exists to remove. The
    * merge UNSETs the stamp atomically with its swap and re-stamps the
    * fresh value after, so a crash in between leaves the property
    * absent (never stale) and the next decision falls back to
    * counting. */
  val BaseMassProperty = "graft.index.baseMass"

  /** Crash journal for the run-level fold: `<newRunId>|<id,id,...>`
    * (the partition the folded run lands in, and the source partitions
    * — old run + fresh — it replaces). Stamped on the MAIN table in one
    * metastore op AFTER the folded rows are durably in the
    * `<table>_runfold` side table and BEFORE any partition is dropped;
    * cleared after the swap completes. Any entry point that reads the
    * table first calls [[repairRunFold]], which re-applies a pending
    * journal idempotently — so no crash point can expose a
    * half-folded partition set to a probe. */
  val FoldJournalProperty = "graft.index.foldJournal"

  /** Stamped on the REPLACEMENT table BEFORE [[rewriteBucketed]]'s
    * two-name swap and UNSET only after the post-rename `RECOVER
    * PARTITIONS` completed (optimization r22, guide §6): the stamp
    * turns [[repairCompaction]]'s per-batch staleness decision into an
    * O(1) property read instead of an O(partitions) `listPartitions`
    * location sweep — the repair guard runs on EVERY maintenance batch
    * and probe entry, so at 100 TB the old sweep shipped every
    * partition's metadata from the metastore once per micro-batch per
    * table. The property also closes the mid-RECOVER crash window the
    * location signature could not see (ADVICE r21): a kill during the
    * recover itself leaves the stamp set, so the next entry re-runs
    * the recover; the location test would have read the
    * partially-registered layout as healthy. Every table rename in
    * this codebase goes through the swap protocols here, so the stamp
    * covers all in-protocol stale states; a FOREIGN rename (an
    * operator's raw ALTER TABLE RENAME) is outside the maintenance
    * protocol and is healed explicitly via
    * [[recoverPartitionsIfStale]]. */
  val NeedsRecoverProperty = "graft.index.needsRecover"

  /** Count of metastore round-trips issued by this object's catalog
    * READS on the maintenance/probe paths (metadata fetches, existence
    * checks, partition listings) — the instrument behind the per-batch
    * metastore budget MetastoreBudgetSpec pins (optimization r22,
    * guide §6: at fixture scale these calls are sub-10 ms driver work,
    * at 100 TB they are metastore QPS). Monotone; tests snapshot
    * around a unit of work and assert the delta. */
  val metastoreCalls = new java.util.concurrent.atomic.AtomicLong(0)

  private def identOf(table: String) =
    org.apache.spark.sql.catalyst.TableIdentifier(table)

  private def countedExists(spark: SparkSession, table: String): Boolean = {
    metastoreCalls.incrementAndGet()
    spark.sessionState.catalog.tableExists(identOf(table))
  }

  private def countedMeta(spark: SparkSession, table: String)
      : org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    metastoreCalls.incrementAndGet()
    spark.sessionState.catalog.getTableMetadata(identOf(table))
  }

  /** Existence check and metadata fetch in ONE round-trip: the absent
    * case surfaces as NoSuchTableException instead of a separate
    * tableExists probe. */
  private def countedMetaOption(spark: SparkSession, table: String)
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] = {
    metastoreCalls.incrementAndGet()
    try Some(spark.sessionState.catalog.getTableMetadata(identOf(table)))
    catch {
      case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException => None
      case _: org.apache.spark.sql.catalyst.analysis.NoSuchDatabaseException => None
    }
  }

  private def countedListPartitionNames(spark: SparkSession,
                                        table: String): Seq[String] = {
    metastoreCalls.incrementAndGet()
    spark.sessionState.catalog.listPartitionNames(identOf(table))
  }

  def foldedThrough(spark: SparkSession, table: String): Long =
    spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .properties.get(FoldedThroughProperty)
      .flatMap(_.toLongOption).getOrElse(Long.MinValue)

  /** True when `table` exists and is stamped as one of the additive-df
    * index families — the tables whose maintenance cadence runs
    * [[maybeFold]] instead of [[maybeCompact]]. */
  def isAdditiveIndex(spark: SparkSession, table: String): Boolean =
    spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(table)) &&
      tableKind(spark, table).exists(AdditiveKinds)

  /** AUTO-COMPACTION CADENCE for streamed per-batch index maintenance:
    * once `everyBatches` NEW batch_id partitions have landed since the
    * last fold, run the crash-safe [[compactBucketed]] swap and stamp
    * the cursor. This is the policy the round-16 compaction
    * measurement asked for (PROFILE_r16.md, PROBE_SCALING.md):
    * accumulated per-batch file waves double streamed-probe cost by
    * the ~80x index point (each append fans one
    * wave of files into every bucket), and compaction recovers it
    * (q73 probe 1.36 -> 0.63 s, q71 1.75 -> 0.81 s) — but until now a
    * user had to know to run it. Wired into `runIndexMaintenance`, so
    * every streamed index family pays O(index/N) amortized rewrite per
    * batch instead of unbounded fragmentation.
    *
    * Safe under the streaming replay contract: compaction preserves
    * content exactly, so a batch replayed AFTER a fold idempotently
    * overwrites its own (already folded) partition — re-fragmenting one
    * partition until the next cadence point, never double-counting.
    * No-op for unpartitioned or non-batch_id tables (e.g. the pinned
    * IVF centroid artifact). Returns true when a compaction ran. */
  def maybeCompact(spark: SparkSession, table: String,
                   everyBatches: Int = 4): Boolean = {
    if (everyBatches <= 0) return false
    countedMetaOption(spark, table) match {
      case Some(meta) if meta.partitionColumnNames == Seq("batch_id") =>
        maybeCompactWith(spark, table, meta, everyBatches)
      case _ => false
    }
  }

  private def maybeCompactWith(spark: SparkSession, table: String,
                               meta: org.apache.spark.sql.catalyst.catalog.CatalogTable,
                               everyBatches: Int): Boolean = {
    val parts = countedListPartitionNames(spark, table)
      .flatMap(_.stripPrefix("batch_id=").toLongOption)
    if (parts.isEmpty) return false
    val compactedAt = meta.properties.get(CompactedAtProperty)
      .flatMap(_.toLongOption).getOrElse(Long.MinValue)
    if (parts.count(_ > compactedAt) < everyBatches) false
    else {
      compactBucketed(spark, table)
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
        s"('$CompactedAtProperty' = '${parts.max}')")
      true
    }
  }

  /** ONE cadence entry per maintained table per micro-batch
    * (optimization r22, guide §6): the old foreachBatch sequence —
    * [[isAdditiveIndex]] (existence + metadata) then [[maybeFold]] /
    * [[maybeCompact]] (existence + metadata + partition names) — paid
    * five metastore reads per table per batch for one decision that
    * needs a single metadata fetch. This fetches the table's metadata
    * once and dispatches: additive-df family → tiered fold cadence,
    * anything else batch_id-partitioned → compaction cadence, absent /
    * non-batch layouts → no-op. Semantics identical to the old
    * branch pair (pinned by StreamedIndexSpec's cadence tests).
    * Returns true when a rewrite ran. */
  def maintainIndex(spark: SparkSession, table: String,
                    everyBatches: Int = 4,
                    mergeFraction: Double = 0.25): Boolean = {
    if (everyBatches <= 0) return false
    countedMetaOption(spark, table) match {
      case Some(meta) if meta.partitionColumnNames == Seq("batch_id") =>
        if (meta.properties.get(KindProperty).exists(AdditiveKinds))
          maybeFoldWith(spark, table, meta, everyBatches, mergeFraction)
        else maybeCompactWith(spark, table, meta, everyBatches)
      case _ => false
    }
  }

  /** The append-branch step every `append*Partial` shares: refresh the
    * caller's cached relation (the create may have run through another
    * cloned session), verify the existing table is the expected index
    * FAMILY, then land the partial as its own idempotent batch_id
    * partition. The kind check here closes the blind spot the ADVICE-r16
    * audit found: only probes checked the stamp, so a partial appended
    * into a same-column-layout table of a DIFFERENT hash family (e.g. a
    * shingle-df partial into a line-df index — both `(h, df_corpus,
    * batch_id)`) would silently mix families; now the very first append
    * into a wrong-family table fails loudly.
    *
    * FOLD WATERMARK (VERDICT r18 item 1): a batch at/below the table's
    * [[FoldedThroughProperty]] already had its partial absorbed by a
    * [[foldBucketed]] rewrite — its per-batch partition no longer
    * exists, so the overwrite-own-partition idempotence that makes
    * replays safe is gone, and landing it would DOUBLE-COUNT. Such a
    * batch no-ops, and the method returns false so callers (and the
    * SQL surface's `landed` column) can see the drop. Batch ids are
    * monotone per table (the [[Tombstones]] contract), so a sub-
    * watermark id IS a replay; an operator reusing a low id after a
    * fold sees `landed = false` instead of a silent partial loss. */
  def appendPartialInto(spark: SparkSession, partial: DataFrame,
                        table: String, kind: String,
                        batchId: Long): Boolean = {
    spark.catalog.refreshTable(table)
    // ONE metadata fetch serves all three guards (optimization r22,
    // guide §6): the kind check, the layout guard and the fold
    // watermark each re-fetched the table's metadata — three metastore
    // round-trips per append per table for properties of one snapshot
    val meta = countedMeta(spark, table)
    meta.properties.get(KindProperty).foreach { k =>
      require(k == kind,
        s"$table is a '$k' index, not the '$kind' index this append " +
          "expects — same column layout, different hash family; joining it " +
          "would silently resolve against unrelated hashes")
    }
    // layout guard: the dynamic-partition overwrite below is only
    // idempotent against a batch_id-PARTITIONED table — against an
    // unpartitioned (batch-built) layout, insertInto-overwrite would
    // TRUNCATE the whole index and land one batch in its place. The
    // SQL surface makes this reachable (APPEND TO ... naming a
    // batch-built table), so fail loudly instead.
    require(meta.partitionColumnNames == Seq("batch_id"),
      s"$table is not batch_id-partitioned — it is a batch-built index " +
        "layout; per-batch APPEND maintains only the streamed " +
        "(partitioned) layout. Rebuild it with the streamed create " +
        "path, or extend it with the family's batch append")
    val folded = meta.properties.get(FoldedThroughProperty)
      .flatMap(_.toLongOption).getOrElse(Long.MinValue)
    if (batchId <= folded) return false
    overwritePartitions(partial, table)
    true
  }

  /** Compact a BUCKETED table back to one file per bucket, preserving
    * the bucket spec — the maintenance companion to append-mode
    * ingestion: every [[writeBucketedMulti]] append lands one more file
    * wave inside the existing buckets, and after enough days the scan's
    * file-open count (not its byte count) becomes the bottleneck.
    * Plain [[graft.io.Sinks.compactParquet]] would destroy the layout
    * (repartition + plain write loses catalog bucket metadata); this
    * reads the spec from the catalog, repartitions on the bucket keys —
    * `repartition(n, keys)` hashes exactly like the bucket layout, so
    * each output task holds exactly one bucket and writes exactly one
    * file — and swaps the rewritten table in under the original name.
    *
    * The swap follows the Ledger two-name protocol (Ledger.scala:29),
    * adapted to catalog tables: the ORIGINAL is renamed to a backup name
    * BEFORE the compacted table takes its place, and the backup is
    * dropped only after the rename-in succeeded — the original's data
    * files are never destroyed until the new table is live under the
    * real name (the old drop-then-rename form deleted the managed
    * table's data first, so a crash in the window lost the index until
    * a full rebuild). A crash mid-swap leaves at most a one-rename
    * repair, performed automatically by [[repairCompaction]], which
    * both this method and any probe-side caller can run first; no
    * crash point loses data (proved under injected kills in
    * RecoverySpec). Run it in the maintenance window that also owns
    * appends. Returns the data file count after compaction. */
  def compactBucketed(spark: SparkSession, table: String,
                      injectCrashAtSwapStep: Int = 0): Int =
    rewriteBucketed(spark, table, identity, injectCrashAtSwapStep)

  /** PHYSICAL PURGE of tombstoned keys from a bucketed index table —
    * the deletion companion to [[compactBucketed]]: the same crash-safe
    * layout-preserving two-name swap, but the rewrite drops every row
    * whose `keyCol` appears in `removeKeys` (broadcast anti-join —
    * `removeKeys` is retraction-sized, the scan side streams). After a
    * purge the rows are GONE from disk, not merely filtered at probe
    * time: the right-to-be-forgotten end state for a posting-list index
    * whose rows (unlike the additive-df families) cannot be cancelled
    * by a negated partial. Same crash windows and repair as compaction
    * (RecoverySpec's injected-kill matrix applies verbatim — the
    * original table survives under `_precompact` until the purged
    * table is live). Returns the data file count after the rewrite. */
  def purgeBucketed(spark: SparkSession, table: String,
                    removeKeys: DataFrame, keyCol: String,
                    injectCrashAtSwapStep: Int = 0): Int = {
    val ids = removeKeys.select(removeKeys(keyCol))
    rewriteBucketed(spark, table,
      _.join(org.apache.spark.sql.functions.broadcast(ids), Seq(keyCol),
        "left_anti"),
      injectCrashAtSwapStep)
  }

  /** FOLD-PURGE for the additive-df index families (VERDICT r18 item
    * 1) — the negated-partial twin of [[Tombstones.purge]]: retraction
    * lands as a NEGATED partial, so after enough retractions a key
    * lives on as (h, +df)/(h, −df) row pairs that [[compactBucketed]]
    * (an identity rewrite) carries forever — under steady
    * right-to-be-forgotten traffic the index's ROW count grows with
    * total retraction history even though the folded answer stays
    * correct. This rewrite performs the fold physically: group by the
    * bucket key, SUM the count column, DROP keys that fold to zero
    * (absent, exactly as a rebuild-without would have it — the
    * documented probe semantics of all five families), FAIL LOUDLY on
    * a negative fold (double retraction / never-appended doc — baking
    * corrupted history into the index is worse than aborting the
    * maintenance window), and land the result as ONE summed partition
    * under the highest folded batch_id, through the same crash-safe
    * two-name swap as compaction (RecoverySpec's injected-kill matrix
    * applies verbatim).
    *
    * Replay safety: the [[FoldedThroughProperty]] watermark is stamped
    * on the replacement table BEFORE the swap, so folded content and
    * its watermark go live atomically; [[appendPartialInto]] no-ops
    * any partial at/below it. A crash before the swap leaves the
    * original table (partials intact, replays idempotent as ever); a
    * crash after leaves the folded table already stamped.
    *
    * Scale shape: the groupBy runs ON the bucketed scan (the scan is
    * NOT pinned off — with an aggregate caring about the layout the
    * planner keeps it), so the fold is exchange-free on the index side
    * and each task drains one bucket into one summed file: O(index)
    * once per cadence window, O(index/N) amortized per batch — the
    * same economics as the compaction it replaces, minus the rows that
    * no longer exist. Returns the data file count after the fold. */
  def foldBucketed(spark: SparkSession, table: String,
                   injectCrashAtSwapStep: Int = 0): Int = {
    import org.apache.spark.sql.functions.{col, concat, lit, raise_error, sum, when}
    repairCompaction(spark, table)
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    val (keys, value) = additiveLayout(spark, table)
    val parts = spark.sessionState.catalog.listPartitionNames(ident)
      .flatMap(_.stripPrefix("batch_id=").toLongOption)
    if (parts.isEmpty) return dataFileCount(spark, table)
    val maxBatch = parts.max
    FoldEvents.record(table, "base-merge", parts.size)
    rewriteBucketed(spark, table,
      df => df.groupBy(keys.map(col): _*)
        .agg(sum(col(value.name)).cast(value.dataType).as(value.name))
        // zero folds become ABSENT (row-presence is the predicate for
        // these families); negative folds are history corruption and
        // must abort the rewrite, not persist
        .filter(when(col(value.name) < 0,
            raise_error(concat(
              lit(s"$table folds a negative ${value.name} — double "),
              lit("retraction or retraction of a never-appended doc"))))
          .otherwise(col(value.name)) =!= 0)
        .withColumn("batch_id", lit(maxBatch)),
      injectCrashAtSwapStep,
      // watermark + cadence cursor + base marker ride the swap
      // atomically: the fold subsumes a compaction, and everything now
      // lives in the single base partition — the run level is consumed
      extraProps = Map(FoldedThroughProperty -> maxBatch.toString,
        CompactedAtProperty -> maxBatch.toString,
        BaseAtProperty -> maxBatch.toString),
      pinBucketedScanOff = false,
      // the old base's mass stamp dies with the swap (atomically); the
      // fresh value is stamped below, AFTER the swap — a crash between
      // the two leaves the property absent, and tieredFold falls back
      // to counting (see BaseMassProperty)
      dropProps = Set(RunAtProperty, BaseMassProperty))
    // one footer-only count of the just-merged base, paid once per
    // merge (amortized O(delta) like the merge itself), so every
    // subsequent cadence decision is metadata-only
    val baseMass = spark.table(table)
      .filter(col("batch_id") === maxBatch).count()
    stampProperties(spark, table,
      Map(BaseMassProperty -> baseMass.toString))
    dataFileCount(spark, table)
  }

  /** Shared layout guard of the fold paths: `table` must be a
    * batch_id-partitioned, bucketed, additive-df index with exactly one
    * summable value column. Returns (bucket keys, the value field). */
  private def additiveLayout(spark: SparkSession,
                             table: String): (Seq[String], org.apache.spark.sql.types.StructField) = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    require(meta.partitionColumnNames == Seq("batch_id"),
      s"$table is not a batch_id-partitioned streamed index — " +
        "folds rewrite per-batch partials; nothing to fold here")
    require(meta.properties.get(KindProperty).exists(AdditiveKinds),
      s"$table is not an additive-df index family " +
        s"(${AdditiveKinds.toSeq.sorted.mkString(", ")}) — folding a " +
        "posting-list table would sum rows that are facts, not counts")
    val keys = meta.bucketSpec.getOrElse(
      throw new IllegalArgumentException(s"$table is not bucketed"))
      .bucketColumnNames
    val dataCols = meta.schema.fields
      .filterNot(f => keys.contains(f.name) || f.name == "batch_id")
    require(dataCols.length == 1,
      s"$table carries ${dataCols.length} non-key columns — the " +
        "additive-df layout is (key, count, batch_id); refusing to " +
        "guess which columns sum")
    (keys, dataCols.head)
  }

  /** TIERED FOLD (VERDICT r19 item 2) — the cadence action that
    * decouples maintenance cost from index size. [[foldBucketed]]
    * rewrites the ENTIRE table: O(index) once per cadence window, an
    * amortized per-batch cost that grows linearly with index size
    * while the batches stay delta-sized — at a 100 TB index under
    * steady ingest the maintenance loop would eventually dominate
    * ingest. The LSM answer, two levels:
    *
    *  1. RUN-LEVEL FOLD (the common case): (old run ∪ fresh partials)
    *     fold into ONE new run partition — cost O(run + delta), the
    *     base partition's files are never read or written. Zero sums
    *     drop; NEGATIVE sums stay (a retraction of a base-resident key
    *     is pending until the merge; probes sum base + run before any
    *     sign check, so correctness is unchanged — certified by the
    *     run-level spec and the q81-family oracles).
    *  2. BASE MERGE (rare): when the run would outgrow
    *     `mergeFraction` x base mass, everything folds into a new base
    *     via [[foldBucketed]] — O(index), but amortized O(delta) per
    *     batch because it runs only after the run accumulated a
    *     constant fraction of the base.
    *
    * Crash safety: the run-level fold materializes the folded rows in
    * a `<table>_runfold` side table FIRST, then stamps the
    * [[FoldJournalProperty]] (one metastore op), then swaps partitions;
    * [[repairRunFold]] — called by every probe-side
    * [[repairCompaction]] — re-applies a pending journal idempotently,
    * so no crash point exposes a half-swapped partition set
    * (ChaosSpec kills at every failpoint). The base merge inherits the
    * two-name-swap proof of [[compactBucketed]].
    *
    * Returns true when the base-merge path ran (the expensive one) —
    * measurement hooks use it. */
  def tieredFold(spark: SparkSession, table: String,
                 mergeFraction: Double = 0.25,
                 injectCrashAtStep: Int = 0): Boolean = {
    import org.apache.spark.sql.functions.col
    repairCompaction(spark, table)
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    additiveLayout(spark, table) // layout guards
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val props = meta.properties
    val folded = props.get(FoldedThroughProperty)
      .flatMap(_.toLongOption).getOrElse(Long.MinValue)
    val baseAt = props.get(BaseAtProperty).flatMap(_.toLongOption)
    val runAt = props.get(RunAtProperty).flatMap(_.toLongOption)
    val parts = spark.sessionState.catalog.listPartitionNames(ident)
      .flatMap(_.stripPrefix("batch_id=").toLongOption)
    val fresh = parts.filter(_ > folded)
    if (fresh.isEmpty) return false
    def mass(ids: Seq[Long]): Long =
      if (ids.isEmpty) 0L
      else spark.table(table)
        .filter(col("batch_id").isin(ids: _*)).count() // footer-only scan
    // base mass from the merge-time stamp (VERDICT r20 item 3): the
    // base only changes at a merge, so the stamp is authoritative;
    // counting it here would list/open every base file's footer once
    // per cadence window — O(base) filesystem work the tiered fold
    // exists to avoid. Fallback to counting covers pre-stamp tables
    // and the crash window between a merge's swap and its re-stamp.
    val baseMass = props.get(BaseMassProperty).flatMap(_.toLongOption)
      .getOrElse(mass(baseAt.toSeq))
    // no base yet (first fold), or the run would outgrow its bound:
    // merge everything into a new base
    if (baseAt.isEmpty ||
        mass(runAt.toSeq ++ fresh) > mergeFraction * baseMass) {
      foldBucketed(spark, table, injectCrashAtStep)
      true
    } else {
      runLevelFold(spark, table, runAt, fresh, injectCrashAtStep)
      false
    }
  }

  /** The O(run + delta) half of [[tieredFold]]: fold (old run ∪ fresh)
    * into one new run partition at `batch_id = max(fresh)` without
    * touching the base partition. See [[FoldJournalProperty]] for the
    * crash protocol; `injectCrashAtStep` is a ChaosSpec failpoint
    * (1 = after the side table, before the journal; 2 = after the
    * journal, before any partition moves; 3 = mid-swap, after the
    * source partitions dropped but before the folded run lands). */
  private def runLevelFold(spark: SparkSession, table: String,
                           runAt: Option[Long], fresh: Seq[Long],
                           injectCrashAtStep: Int): Unit = {
    import org.apache.spark.sql.functions.{col, lit, sum}
    val (keys, value) = additiveLayout(spark, table)
    val srcIds = runAt.toSeq ++ fresh
    val newRunId = fresh.max
    val side = s"${table}_runfold"
    dropTable(spark, side)
    FoldEvents.record(table, "run-fold", srcIds.size)
    // fold the run + fresh partitions only — the scan prunes to those
    // directories, the groupBy runs on the bucketed scan (exchange-free
    // on the index side), base files are never opened. The side table
    // mirrors the TARGET's resolved column order (data cols, then the
    // partition col) so the later positional insertInto cannot mis-map.
    val schemaOrder = spark.table(table).columns.toSeq
    spark.table(table).filter(col("batch_id").isin(srcIds: _*))
      .groupBy(keys.map(col): _*)
      .agg(sum(col(value.name)).cast(value.dataType).as(value.name))
      // zeros drop (fully cancelled inside the run); negatives STAY —
      // they are pending cancellations against base-resident keys
      .filter(col(value.name) =!= 0)
      .withColumn("batch_id", lit(newRunId))
      .select(schemaOrder.map(col): _*)
      .write.format("parquet").saveAsTable(side)
    def failpoint(step: Int): Unit =
      if (injectCrashAtStep == step)
        throw new IllegalStateException(s"injected crash at run-fold step $step")
    failpoint(1)
    // one metastore op makes the swap REDOABLE before anything moves
    stampProperties(spark, table, Map(
      FoldJournalProperty -> s"$newRunId|${srcIds.mkString(",")}"))
    failpoint(2)
    applyRunFoldJournal(spark, table, injectCrashAtStep)
  }

  /** Re-apply a pending run-fold journal (no-op without one). Called by
    * [[repairCompaction]] so every probe/maintenance entry point heals
    * a mid-swap crash before reading the partition set. Idempotent:
    * partition drops ignore absences, the landing overwrites exactly
    * its own partition, property stamps re-stamp the same values. */
  def repairRunFold(spark: SparkSession, table: String): Unit = {
    val cat = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    if (!cat.tableExists(ident)) return
    if (cat.getTableMetadata(ident).properties.contains(FoldJournalProperty))
      applyRunFoldJournal(spark, table, injectCrashAtStep = 0)
    else {
      // a side table with NO journal is a pre-journal crash leftover:
      // the main table is untouched, the next fold rebuilds it
      val side = s"${table}_runfold"
      if (cat.tableExists(org.apache.spark.sql.catalyst.TableIdentifier(side)))
        dropTable(spark, side)
    }
  }

  private def applyRunFoldJournal(spark: SparkSession, table: String,
                                  injectCrashAtStep: Int): Unit = {
    val cat = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    val journal = cat.getTableMetadata(ident).properties
      .get(FoldJournalProperty).getOrElse(return)
    val Array(newRunIdS, dropS) = journal.split('|')
    val newRunId = newRunIdS.toLong
    val dropIds = dropS.split(',').map(_.trim).filter(_.nonEmpty).map(_.toLong)
    val side = s"${table}_runfold"
    require(cat.tableExists(org.apache.spark.sql.catalyst.TableIdentifier(side)),
      s"$table carries a run-fold journal but $side is missing — the " +
        "journal is only ever stamped after the side table committed; " +
        "this table was tampered with outside the maintenance protocol")
    // 1. drop the consumed partitions (old run + fresh), data included;
    //    ONE partition listing up front (ADVICE r20: listing inside the
    //    filter was O(n^2) metastore calls on a wide journal)
    val existing = cat.listPartitions(ident).map(_.spec).toSet
    val specs = dropIds.toSeq.map(id => Map("batch_id" -> id.toString))
      .filter(existing)
    if (specs.nonEmpty)
      cat.dropPartitions(ident, specs, ignoreIfNotExists = true,
        purge = false, retainData = false)
    if (injectCrashAtStep == 3)
      throw new IllegalStateException("injected crash at run-fold step 3")
    // 2. land the folded run as its own partition (idempotent replay).
    //    When run + fresh fully cancelled, the fold's output is EMPTY:
    //    a dynamic-partition overwrite of an empty frame writes no
    //    partition, so stamping RunAtProperty would leave a run marker
    //    pointing at a partition that does not exist — violating the
    //    documented "RUN: one bounded partition at batch_id = runAt"
    //    invariant (ADVICE r20). The watermark/cadence cursors still
    //    advance; the run marker is UNSET instead of stamped.
    val sideEmpty = spark.table(side).isEmpty
    if (!sideEmpty) overwritePartitions(spark.table(side), table)
    // 3. advance the level markers + watermark, then clear the journal;
    //    a crash between the two replays this method harmlessly
    stampProperties(spark, table, Map(
      FoldedThroughProperty -> newRunId.toString,
      CompactedAtProperty -> newRunId.toString) ++
      (if (sideEmpty) Map.empty[String, String]
       else Map(RunAtProperty -> newRunId.toString)))
    val unsetProps =
      if (sideEmpty) s"'$FoldJournalProperty', '$RunAtProperty'"
      else s"'$FoldJournalProperty'"
    spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES IF EXISTS " +
      s"($unsetProps)")
    dropTable(spark, side)
    spark.catalog.refreshTable(table)
  }

  /** AUTO-FOLD CADENCE — [[maybeCompact]]'s shape for the additive-df
    * families, with [[FoldedThroughProperty]] as the cursor: once
    * `everyBatches` partials have landed above the watermark, run the
    * TIERED fold (run-level in the common case, base merge when the
    * run outgrows its bound — see [[tieredFold]]). Replaces (subsumes)
    * the compaction cadence for these tables — a fold IS a compaction
    * plus the zero-sum drop — so `runIndexMaintenance` branches on
    * [[isAdditiveIndex]] rather than running both rewrites. Returns
    * true when a fold ran. */
  def maybeFold(spark: SparkSession, table: String,
                everyBatches: Int = 4,
                mergeFraction: Double = 0.25): Boolean = {
    if (everyBatches <= 0) return false
    countedMetaOption(spark, table) match {
      case Some(meta) if meta.partitionColumnNames == Seq("batch_id") &&
          meta.properties.get(KindProperty).exists(AdditiveKinds) =>
        maybeFoldWith(spark, table, meta, everyBatches, mergeFraction)
      case _ => false
    }
  }

  private def maybeFoldWith(spark: SparkSession, table: String,
                            meta: org.apache.spark.sql.catalyst.catalog.CatalogTable,
                            everyBatches: Int,
                            mergeFraction: Double): Boolean = {
    val folded = meta.properties.get(FoldedThroughProperty)
      .flatMap(_.toLongOption).getOrElse(Long.MinValue)
    val fresh = countedListPartitionNames(spark, table)
      .flatMap(_.stripPrefix("batch_id=").toLongOption)
      .count(_ > folded)
    if (fresh < everyBatches) false
    else { tieredFold(spark, table, mergeFraction); true }
  }

  private def rewriteBucketed(spark: SparkSession, table: String,
                              transform: DataFrame => DataFrame,
                              injectCrashAtSwapStep: Int,
                              extraProps: Map[String, String] = Map.empty,
                              pinBucketedScanOff: Boolean = true,
                              dropProps: Set[String] = Set.empty): Int = {
    repairCompaction(spark, table)
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val spec = meta.bucketSpec.getOrElse(
      throw new IllegalArgumentException(s"$table is not bucketed"))
    val keys = spec.bucketColumnNames
    val sorts = spec.sortColumnNames
    val tmp = s"${table}_compacting"
    dropTable(spark, tmp)
    // pin the bucketed scan ON for the rewrite: the explicit repartition
    // is elided against the scan's bucket partitioning (zero-shuffle
    // compaction — each task drains one bucket's file wave into one
    // file), but WITHOUT the pin the planner can elide the shuffle AND
    // then demote the scan to a plain file-split read
    // (DisableUnnecessaryBucketedScan sees no join/agg caring), leaving
    // rows bucket-misaligned across tasks — one file per (task, bucket)
    // instead of one per bucket, silently re-fragmenting the table
    // ...unless the transform itself aggregates on the bucket keys
    // (pinBucketedScanOff = false, the foldBucketed path): there the
    // aggregate makes the planner keep the bucketed scan, the agg runs
    // exchange-free on it, and the pin would FORCE the shuffle it
    // exists to prevent
    val scanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevScan = spark.conf.get(scanKey)
    try {
      if (pinBucketedScanOff) spark.conf.set(scanKey, "false")
      // preserve a partition layout too (the streamed line-df index is
      // partitionBy(batch_id) + bucketBy(h)): a rewrite that silently
      // dropped the partition columns would not just lose directory
      // pruning — the NEXT dynamic-partition-overwrite append would see
      // an unpartitioned target and truncate the whole index
      val partCols = meta.partitionColumnNames
      val writerBase = transform(spark.table(table))
        .repartition(spec.numBuckets,
          keys.map(org.apache.spark.sql.functions.col): _*)
        .write
      val writer =
        (if (partCols.isEmpty) writerBase else writerBase.partitionBy(partCols: _*))
          .bucketBy(spec.numBuckets, keys.head, keys.tail: _*)
      // a bucketed-but-unsorted spec is legal (never produced by
      // writeBucketedMulti, but a foreign table may carry one) — skip
      // sortBy rather than throwing NoSuchElementException on sorts.head
      (if (sorts.isEmpty) writer else writer.sortBy(sorts.head, sorts.tail: _*))
        .format("parquet")
        .saveAsTable(tmp)
      // carry graft.* table properties (the index-kind stamp) through
      // the rewrite — saveAsTable starts from a blank property map, and
      // losing the stamp would re-open requireKind's blind spot after
      // every compaction. One combined ALTER: each statement is a
      // metastore round-trip, and auto-compaction runs inside the
      // timed maintenance loop.
      // partitioned replacements additionally carry the needs-recover
      // stamp INTO the swap: it goes live with the rename (whose
      // post-rename partition locations are stale by construction) and
      // is unset only after the RECOVER below completed — the O(1)
      // signal repairCompaction's hot path reads instead of sweeping
      // partition locations per batch (see NeedsRecoverProperty)
      val props = meta.properties.filter(_._1.startsWith("graft."))
        .filterNot { case (k, _) => dropProps(k) } ++ extraProps ++
        (if (partCols.nonEmpty) Map(NeedsRecoverProperty -> "true")
         else Map.empty[String, String])
      if (props.nonEmpty)
        spark.sql(s"ALTER TABLE $tmp SET TBLPROPERTIES (" +
          props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
    } finally spark.conf.set(scanKey, prevScan)
    // two-name swap: original survives under _precompact until the
    // compacted table is live under the real name.
    // injectCrashAtSwapStep is a FAILPOINT for RecoverySpec only: 1
    // kills in the only window where `table` does not resolve (between
    // the two renames), 2 kills after the swap but before backup
    // cleanup — the two states repairCompaction must handle
    def failpoint(step: Int): Unit =
      if (injectCrashAtSwapStep == step)
        throw new IllegalStateException(s"injected crash at swap step $step")
    val backup = s"${table}_precompact"
    dropTable(spark, backup)
    spark.sql(s"ALTER TABLE $table RENAME TO $backup")
    failpoint(1)
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    // renaming a managed PARTITIONED table moves its directory but the
    // catalog's per-partition locations still point at the old path —
    // the table resolves yet every scan comes back empty. Re-sync them
    // from the filesystem, then retire the needs-recover stamp: a crash
    // anywhere between the rename and the unset (including MID-recover)
    // leaves the stamp set, and repairCompaction re-runs the recover.
    recoverPartitionsIfPartitioned(spark, table)
    if (meta.partitionColumnNames.nonEmpty)
      spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES IF EXISTS " +
        s"('$NeedsRecoverProperty')")
    failpoint(2)
    dropTable(spark, backup) // partition-safe drop: never follows stale paths
    dataFileCount(spark, table)
  }

  /** Re-register a partitioned table's partition locations from the
    * filesystem (no-op for unpartitioned tables). Needed after any
    * ALTER TABLE RENAME of a managed partitioned table: the catalog
    * keeps the old per-partition paths. */
  def recoverPartitionsIfPartitioned(spark: SparkSession, table: String): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    if (meta.partitionColumnNames.nonEmpty) {
      spark.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
      spark.catalog.refreshTable(table)
    }
  }

  /** [[recoverPartitionsIfPartitioned]] gated on a METADATA-ONLY
    * staleness check (optimization r21, the VERDICT-r20-item-3 doctrine
    * applied to the repair path): the only event that strands stale
    * partition locations is an ALTER TABLE RENAME, and its signature is
    * precise — a registered partition whose location does not live
    * under the table's current location. Checking that reads the
    * session catalog only; `RECOVER PARTITIONS` by contrast walks the
    * table's whole directory tree, and [[repairCompaction]] runs on
    * EVERY maintenance/probe entry — per micro-batch, per table — so
    * the unconditional recover was an O(partitions) filesystem pass per
    * batch at 100 TB for a state that only ever exists in a crash
    * window. A table with no registered partitions recovers
    * unconditionally (the one shape the location test cannot see:
    * catalog lost its entries but the directories exist). */
  def recoverPartitionsIfStale(spark: SparkSession, table: String): Unit = {
    val cat = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    val meta = cat.getTableMetadata(ident)
    if (meta.partitionColumnNames.nonEmpty) {
      // compare PATH components, not raw URI strings: the catalog
      // renders the table location and its partition locations with
      // different scheme spellings (file:/ vs file:///), so a naive
      // string prefix test misreads every healthy table as stale and
      // the gate degenerates to recover-always
      def pathOf(u: java.net.URI): String =
        new org.apache.hadoop.fs.Path(u).toUri.getPath.stripSuffix("/")
      val root = pathOf(meta.location) + "/"
      val parts = cat.listPartitions(ident)
      // zero registered partitions is ambiguous (ADVICE r21): a table
      // whose catalog LOST its entries must recover, but a legitimately
      // EMPTY partitioned table (created, no batches landed yet) must
      // not re-walk its directory tree on every call. One single-level
      // listing of the table root disambiguates: partition-style
      // (`col=value`) subdirectories with no catalog entries = lost
      // entries; no such directories = genuinely empty, skip.
      def dirHasPartitionDirs: Boolean = {
        val rootPath = new org.apache.hadoop.fs.Path(meta.location)
        val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.exists(rootPath) && fs.listStatus(rootPath).exists(st =>
          st.isDirectory && st.getPath.getName.contains("="))
      }
      val stale =
        if (parts.isEmpty) dirHasPartitionDirs
        else parts.exists(p => !(pathOf(p.location) + "/").startsWith(root))
      if (stale) {
        spark.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
        spark.catalog.refreshTable(table)
      }
    }
  }

  /** Repair an interrupted [[compactBucketed]] swap so `table` resolves
    * again. Exactly one of three states can follow a mid-swap crash:
    * (a) `table` exists — the swap either never started or completed;
    * drop any stragglers; (b) `table` is gone but the `_precompact`
    * backup exists (killed between the two renames) — restore the
    * backup, which is ALWAYS safe because the backup is the complete
    * pre-compaction table and compaction is an idempotent rewrite;
    * (c) only the `_compacting` table exists (cannot happen in this
    * protocol's ordering, but a legacy drop-then-rename crash leaves
    * it) — promote it, since it was fully written before any rename
    * began. Returns true if `table` resolves on exit. */
  def repairCompaction(spark: SparkSession, table: String): Boolean = {
    val backup = s"${table}_precompact"
    val tmp = s"${table}_compacting"
    countedMetaOption(spark, table) match {
      case Some(meta) =>
        // HOT path — every maintenance batch and probe routes through
        // here. ONE metadata fetch decides everything (optimization
        // r22, guide §6): the needs-recover stamp replaces the r21
        // location-signature sweep (which shipped every partition's
        // metadata from the metastore per call) AND catches the
        // mid-RECOVER crash the sweep could not see; the run-fold
        // journal is a property of the same snapshot. A straggler
        // backup (crash after the swap, before its cleanup) still
        // costs one existence check — it must be dropped here, not
        // left until the next rewrite, or a probe-only workload would
        // carry the doubled storage forever.
        if (countedExists(spark, backup)) dropTable(spark, backup)
        if (meta.properties.contains(NeedsRecoverProperty)) {
          spark.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
          spark.catalog.refreshTable(table)
          spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES IF EXISTS " +
            s"('$NeedsRecoverProperty')")
        }
        // heal a mid-swap run-fold too (the tiered fold's journal) — no
        // reader can see a half-swapped partition set. The journal flag
        // comes from the fetched snapshot; a no-journal leftover side
        // table needs no action here (the next fold drops and rebuilds
        // it — see repairRunFold's else branch, kept for the explicit
        // recovery entry points).
        if (meta.properties.contains(FoldJournalProperty))
          applyRunFoldJournal(spark, table, injectCrashAtStep = 0)
        true
      case None =>
        if (countedExists(spark, backup)) {
          spark.sql(s"ALTER TABLE $backup RENAME TO $table")
          if (countedExists(spark, tmp)) dropTable(spark, tmp)
          recoverPartitionsIfPartitioned(spark, table)
          spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES IF EXISTS " +
            s"('$NeedsRecoverProperty')")
          repairRunFold(spark, table)
          true
        } else if (countedExists(spark, tmp)) {
          spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
          recoverPartitionsIfPartitioned(spark, table)
          spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES IF EXISTS " +
            s"('$NeedsRecoverProperty')")
          repairRunFold(spark, table)
          true
        } else false
    }
  }

  /** Total bytes of a managed table's parquet data files — the probe
    * sweep's bytes axis (VERDICT r19 item 5): these probes scan the
    * whole index side, so on-disk index bytes IS the bytes-scanned
    * normalizer for seconds-per-GB. */
  def dataFileBytes(spark: SparkSession, table: String): Long = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(p).map { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) st.getLen else 0L
      }.sum
    walk(loc)
  }

  /** Count the data files of a managed table (parquet parts, not logs),
    * recursing through partition directories. */
  def dataFileCount(spark: SparkSession, table: String): Int = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Int =
      fs.listStatus(p).map { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) 1 else 0
      }.sum
    walk(loc)
  }

  /** Join two tables bucketed on the same key with the same bucket count:
    * planner sees compatible output partitioning and elides both
    * exchanges (asserted in BucketingSpec). */
  def cocolocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                      key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), Seq(key))
}
