package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.lake.{DmlStrategy, LakeCatalog, LakeDml, WriteMode}
import graft.pipeline.Medallion
import graft.state.WatermarkStore

/** Lake-layer queries: each materializes real snapshots in a fresh
  * temp warehouse, exercises one table-layer capability the reference
  * configures (overwrite/append saveAsTable, snapshot isolation, time
  * travel, compaction, MERGE/UPDATE/DELETE — dags/etl.py:49-54,
  * constant.py:43-50), and returns a DataFrame whose content is
  * SQL-predictable so the DuckDB oracle can hash-check it.
  */
object LakeQueries {

  private val scratchDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.nio.file.Path]())

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    try {
      val paths = Files.walk(p)
      try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally paths.close()
    } catch { case _: Throwable => () } // best-effort cleanup
  }

  private val OwnerMarker = ".graft-owner"

  /** Live iff the marker names a pid with a running process. No marker
    * → not protected (old-JVM dirs fall back to the mtime cutoff);
    * unparseable → treat as live (never delete what we can't attribute).
    */
  private def ownerAlive(dir: java.nio.file.Path): Option[Boolean] = {
    val marker = dir.resolve(OwnerMarker)
    if (!Files.exists(marker)) None
    else Some(
      try ProcessHandle.of(Files.readString(marker).trim.toLong)
        .map[Boolean](_.isAlive).orElse(false)
      catch { case _: Throwable => true })
  }

  // one exit hook for all scratch dirs (per-dir hooks raced Spark's own
  // shutdown and some survived), plus a startup sweep of stale dirs
  // from earlier JVMs — self-healing even when exit hooks are skipped.
  // The sweep only touches dirs whose owning process is dead (pid
  // marker) or, for unmarked dirs, older than 1h: a concurrently
  // running Bench/Verify JVM's live scratch warehouse is never swept.
  private lazy val cleanupInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratchDirs.forEach(deleteRecursively(_))
    }))
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val cutoff = System.currentTimeMillis() - 60 * 60 * 1000L
    import scala.jdk.CollectionConverters._
    val stream = Files.list(tmpRoot)
    try stream.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("graft-"))
      .filter { p =>
        ownerAlive(p) match {
          case Some(alive) => !alive
          case None =>
            try Files.getLastModifiedTime(p).toMillis < cutoff
            catch { case _: Throwable => false }
        }
      }
      .foreach(deleteRecursively(_))
    finally stream.close()
  }

  /** Temp dir removed at JVM exit — repeated Verify/Bench runs would
    * otherwise leak a fixture copy per lake query per run. A pid marker
    * inside the dir protects it from other JVMs' startup sweeps while
    * this process lives.
    */
  private[queries] def scratchDir(prefix: String): java.nio.file.Path = {
    cleanupInstalled
    val p = Files.createTempDirectory(prefix)
    try Files.writeString(p.resolve(OwnerMarker),
      ProcessHandle.current().pid().toString)
    catch { case _: Throwable => () } // marker is best-effort protection
    scratchDirs.add(p)
    p
  }

  private def freshCatalog(spark: SparkSession): LakeCatalog =
    new LakeCatalog(spark, scratchDir("graft-lake-").toString)

  /** Two INDEPENDENT actions on concurrent action threads (guide §2.6):
    * fixture asserts that each pay a full driver-action round trip over
    * disjoint/immutable state, or fixture tasks whose commits touch
    * disjoint table roots (one Spark session schedules both fine);
    * failures settle as [[graft.Async.both]] says.
    */
  private[queries] def inParallel[A, B](a: => A, b: => B): (A, B) =
    graft.Async.both(SparkSession.active)(a, b)

  /** S5 overwrite + append: v1 overwrite, v2 append → latest is the
    * two-commit union.
    */
  def snapshotAppend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val customer = Tables(spark, dir).customer
    cat.write(customer, "bronze.customer", WriteMode.Overwrite)
    cat.write(customer, "bronze.customer", WriteMode.Append)
    cat.read("bronze.customer")
      .orderBy($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal", $"c_mktsegment")
  }

  /** Time travel: overwrite twice, read back the FIRST snapshot both
    * ways — by version and by wall-clock timestamp (`FOR TIMESTAMP AS
    * OF` semantics: greatest version at-or-before the time; commit
    * timestamps are strictly monotonic so the resolution is exact).
    * Old snapshots stay readable because data dirs are immutable.
    */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val customer = Tables(spark, dir).customer
    val v1 = cat.write(customer, "bronze.customer", WriteMode.Overwrite)                    // v1
    cat.write(customer.filter($"c_nationkey" < 10), "bronze.customer", WriteMode.Overwrite) // v2
    val t = cat.table("bronze.customer")
    // both resolution paths must agree before the timestamp read is
    // returned as the query result
    require(t.versionAt(v1.timestampMs).contains(1L),
      s"timestamp travel resolved ${t.versionAt(v1.timestampMs)}, expected v1")
    t.readAsOf(v1.timestampMs).orderBy($"c_custkey")
  }

  /** Snapshot rollback (Iceberg's `rollback_to_snapshot`) as a FORWARD
    * commit: v1 full load, v2 a bad append, roll back to v1 (v3 — the
    * audit trail keeps the bad snapshot readable; no data files move,
    * the rollback is metadata-only), then a corrected append lands on
    * the restored state (v4). The read-back proves post-rollback
    * writes build on v1's content, not v2's — the recovery path every
    * production lake needs after a bad load.
    */
  def rollback(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val customer = Tables(spark, dir).customer
    cat.write(customer, "bronze.customer", WriteMode.Overwrite)                           // v1
    cat.write(customer.filter($"c_nationkey" < 10), "bronze.customer", WriteMode.Append)  // v2: bad load
    val t = cat.table("bronze.customer")
    val restored = t.rollbackTo(1L)                                                       // v3 ≡ v1
    require(restored.version == 3L, s"rollback committed v${restored.version}, expected a forward v3")
    cat.write(customer.filter($"c_nationkey" >= 20), "bronze.customer", WriteMode.Append) // v4
    cat.read("bronze.customer")
      .orderBy($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal", $"c_mktsegment")
  }

  /** Table maintenance end-to-end (the Iceberg-extensions procedures
    * the reference enables: rewrite_data_files with sort,
    * expire_snapshots, remove_orphan_files): multi-commit history →
    * sort-clustered compaction → expire all but the compacted snapshot
    * → orphan sweep → read back. The oracle checks the surviving
    * content; expiry/orphan semantics are asserted in LakeSpec.
    */
  def maintenance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val customer = Tables(spark, dir).customer
    cat.write(customer.repartition(4), "bronze.customer", WriteMode.Overwrite) // v1
    cat.write(customer.filter($"c_nationkey" < 10), "bronze.customer", WriteMode.Append) // v2
    val t = cat.table("bronze.customer")
    t.compact(targetPartitions = 2, sortBy = Seq("c_custkey"))                 // v3
    t.expireSnapshots(retainLast = 1)
    t.removeOrphanFiles(graceMs = 0) // fresh scratch dir: nothing in flight
    cat.read("bronze.customer")
      .orderBy($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal", $"c_mktsegment")
  }

  /** Hidden partitioning (Iceberg partition transforms): events land
    * partitioned by `days(ts)` — the user schema never shows the
    * derived column — and the scan pushes a raw ts range that the
    * table layer projects onto day-partition predicates, pruning
    * whole directories (LakeSpec asserts the PartitionFilters).
    */
  def hiddenPartition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.lake.LakePredicate._
    val cat = freshCatalog(spark)
    cat.write(Tables(spark, dir).events, "bronze.events", WriteMode.Overwrite,
      partitionBy = Seq("days(ts)"))
    cat.table("bronze.events")
      .scan(Seq(
        GtEq("ts", java.sql.Timestamp.valueOf("2024-01-10 00:00:00")),
        LtEq("ts", java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))))
      .orderBy($"event_id")
  }

  /** Partition-spec evolution end-to-end (Iceberg's `ALTER TABLE ...
    * REPLACE PARTITION FIELD`): half the events land UNPARTITIONED
    * (sorted, with per-file ts stats), the spec evolves to `days(ts)`,
    * the other half appends day-partitioned, and one ts-range scan
    * covers both generations — gen-1 prunes via its manifest file
    * stats, gen-2 via day-directory pruning (asserted in LakeSpec).
    * The result is a plain range filter over events: layout evolution
    * must never change semantics.
    */
  def specEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.lake.LakePredicate._
    val cat = freshCatalog(spark)
    val events = Tables(spark, dir).events
    val t = cat.table("bronze.events_evo")
    t.write(events.filter(pmod($"event_id", lit(2)) === 0)
        .repartitionByRange(4, $"ts").sortWithinPartitions($"ts"),
      WriteMode.Overwrite, statsBy = Seq("ts"))
    t.setPartitionSpec(Seq("days(ts)"))
    cat.write(events.filter(pmod($"event_id", lit(2)) === 1),
      "bronze.events_evo", WriteMode.Append) // inherits days(ts)
    t.scan(Seq(
      GtEq("ts", java.sql.Timestamp.valueOf("2024-01-10 00:00:00")),
      LtEq("ts", java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))))
      .orderBy($"event_id")
  }

  /** Incremental append read (Iceberg's incremental scan / the batch
    * face of the streaming source): four commits — seed, append,
    * compact (a data REWRITE), append — and `readIncremental(from=1)`
    * must deliver exactly the two appended slices. The rewrite in the
    * range is first proven to fail loud (delivering rewritten dirs as
    * fresh rows would duplicate data), then passed over via
    * `skipRewrites` — the Delta `skipChangeCommits` contract. At
    * 100 TB this is what lets a daily consumer read "what arrived
    * since my last run" without rescanning the table.
    */
  def incrementalRead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val orders = Tables(spark, dir).orders
    cat.write(orders.filter($"o_orderkey" % 3 === 0), "bronze.orders_inc", WriteMode.Overwrite) // v1
    cat.write(orders.filter($"o_orderkey" % 3 === 1), "bronze.orders_inc", WriteMode.Append)    // v2
    val t = cat.table("bronze.orders_inc")
    t.compact(targetPartitions = 1)                                                             // v3 rewrite
    cat.write(orders.filter($"o_orderkey" % 3 === 2), "bronze.orders_inc", WriteMode.Append)    // v4
    val failed =
      try { t.readIncremental(fromVersion = 1); false }
      catch { case _: graft.lake.RewriteCommitException => true }
    require(failed, "a rewrite inside the incremental range must fail loud without skipRewrites")
    t.readIncremental(fromVersion = 1, skipRewrites = true).orderBy($"o_orderkey")
  }

  /** MERGE INTO (upsert): doubles acctbal for matched keys, inserts two
    * new rows for unmatched keys.
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val customer = Tables(spark, dir).customer
    // declared stats on the merge key: the Auto strategy decision then
    // reads manifest min/max blobs instead of scanning the target
    cat.write(customer, "silver.customer", WriteMode.Overwrite,
      statsBy = Seq("c_custkey"))
    val updates = customer.filter($"c_nationkey" < 5)
      .withColumn("c_acctbal", $"c_acctbal" * 2)
    val inserts = Seq(
      (-1L, "NEW A", 0, 100.0, "BUILDING"),
      (-2L, "NEW B", 1, 200.0, "MACHINERY"),
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    LakeDml.merge(cat.table("silver.customer"), updates.unionByName(inserts),
      keys = Seq("c_custkey"))
    cat.read("silver.customer").orderBy($"c_custkey")
  }

  /** The same upsert as [[mergeUpsert]] forced through MERGE-ON-READ
    * (Iceberg v2 row-level deletes): matched rows die via a positional
    * delete file, updated/inserted rows land in one small appended
    * dir, and every untouched data file is carried forward
    * byte-identical. The oracle SQL is identical — strategy must not
    * change semantics — and the commit shape (delete dir + no rewrite)
    * is asserted in LakeDmlSpec.
    */
  def mergeMorUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val customer = Tables(spark, dir).customer
    cat.write(customer.repartition(4), "silver.customer", WriteMode.Overwrite)
    val updates = customer.filter($"c_nationkey" < 5)
      .withColumn("c_acctbal", $"c_acctbal" * 2)
    val inserts = Seq(
      (-1L, "NEW A", 0, 100.0, "BUILDING"),
      (-2L, "NEW B", 1, 200.0, "MACHINERY"),
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val t = cat.table("silver.customer")
    val snap = LakeDml.merge(t, updates.unionByName(inserts),
      keys = Seq("c_custkey"), strategy = DmlStrategy.MergeOnRead)
    require(snap.deleteDirs.nonEmpty && snap.op == "merge",
      s"expected a merge-on-read commit, got op=${snap.op}")
    cat.read("silver.customer").orderBy($"c_custkey")
  }

  /** Equality-delete upsert chain (Iceberg v2 equality delete files —
    * the Flink→Iceberg CDC/upsert ingest shape): two upsert batches
    * land on a base table, each committing ONE appended dir plus ONE
    * key-valued delete file, never reading or rewriting existing data
    * — the write cost of maintaining a continuously-updated 100 TB
    * table tracks the BATCH size, not the table size. Sequence
    * semantics (delete applies only to strictly-older dirs) let each
    * commit retire prior key versions while its own rows survive; the
    * commit shape is asserted inline, and the second upsert must win
    * on the overlap. Both batches derive from the ORIGINAL table so
    * the oracle is a closed-form CASE over the raw parquet.
    */
  def eqUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val customer = Tables(spark, dir).customer
    cat.write(customer.repartition(4), "silver.customer", WriteMode.Overwrite)
    val t = cat.table("silver.customer")
    val before = t.latest.get
    val batch1 = customer.filter($"c_nationkey" < 5)
      .withColumn("c_acctbal", $"c_acctbal" + 1000.0)
      .withColumn("c_mktsegment", lit("UPSERT1"))
    val batch2 = customer.filter($"c_nationkey".between(3, 8))
      .withColumn("c_acctbal", -$"c_acctbal")
      .withColumn("c_mktsegment", lit("UPSERT2"))
      .unionByName(customer.filter($"c_nationkey" === 20).select(
        (-$"c_custkey").as("c_custkey"), $"c_name", $"c_nationkey",
        lit(0.0).as("c_acctbal"), lit("NEWKEY").as("c_mktsegment")))
    t.upsert(batch1, Seq("c_custkey"))
    val snap = t.upsert(batch2, Seq("c_custkey"))
    // scale shape: two upserts = two delete files + two appended dirs;
    // every pre-existing data dir carried forward byte-identical
    require(snap.op == "upsert" && snap.eqDeletes.size == 2 &&
      snap.dirs.take(before.dirs.size) == before.dirs &&
      snap.dirs.size == before.dirs.size + 2,
      s"expected equality-delete upsert commits, got op=${snap.op} " +
        s"eqDeletes=${snap.eqDeletes.size} dirs=${snap.dirs.size}")
    cat.read("silver.customer").orderBy($"c_custkey")
  }

  /** Version-range changelog read (Iceberg changelog scan / Delta CDF):
    * build a 4-version history — base overwrite, append of new keys,
    * merge-on-read DELETE, equality-delete upsert — then read every
    * row-level change in `(v1, v4]` with `_change_type` and
    * `_commit_version`. Each mutation derives from the ORIGINAL
    * customer table over DISJOINT key ranges, so the expected
    * changelog is a closed-form union over the raw parquet. The CDC
    * consumer cost tracks the CHANGED rows (manifest-diff reads +
    * bounded semi-joins against the prior snapshot), never a table
    * diff.
    */
  def cdcRead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val customer = Tables(spark, dir).customer
    cat.write(customer.repartition(4), "silver.customer", WriteMode.Overwrite)  // v1
    val t = cat.table("silver.customer")
    t.write(customer.filter($"c_nationkey" === 5).select(                        // v2
      (-$"c_custkey").as("c_custkey"), $"c_name", $"c_nationkey",
      lit(0.0).as("c_acctbal"), lit("APPEND").as("c_mktsegment")),
      WriteMode.Append)
    LakeDml.delete(t, $"c_nationkey" >= 20, strategy = DmlStrategy.MergeOnRead)  // v3
    t.upsert(customer.filter($"c_nationkey" < 3)                                 // v4
      .withColumn("c_acctbal", $"c_acctbal" + 500.0)
      .withColumn("c_mktsegment", lit("UPSERT")), Seq("c_custkey"))
    t.readChanges(1)
      .orderBy($"_commit_version", $"_change_type", $"c_custkey")
  }

  /** Write-audit-publish + tags: stage an append (data written once,
    * invisible to every reader), audit it as table-as-if-published,
    * publish it as a metadata-only commit, and pin the pre-publish
    * state under an immutable tag that survives retention. The audit
    * gates are asserted inline (staged rows invisible; audit read
    * sees them; tag still resolves the old state after publish) —
    * the oracle checks the published result.
    */
  def wapTag(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val customer = Tables(spark, dir).customer
    cat.write(customer.repartition(4), "silver.customer", WriteMode.Overwrite)
    val t = cat.table("silver.customer")
    t.createTag("pre-load")
    val batch = customer.filter($"c_nationkey" === 7).select(
      (-$"c_custkey").as("c_custkey"), $"c_name", $"c_nationkey",
      lit(0.0).as("c_acctbal"), lit("STAGED").as("c_mktsegment"))
    // the two source counts, then the two post-stage audit reads, are
    // pairwise independent read-only actions on disjoint/immutable
    // state — each pair overlaps on action threads (guide §2.6)
    val (nBase, nBatch) = inParallel(customer.count(), batch.count())
    val id = t.stageAppend(batch)
    val (mainN, stagedN) =
      inParallel(t.read(None).count(), t.readStaged(id).count())
    require(mainN == nBase,
      "staged rows must be invisible before publish")
    require(stagedN == nBase + nBatch,
      "audit read must see table-as-if-published")
    require(t.history.size == 1, "staging must not create a version")
    t.publishStaged(id)
    require(t.readTag("pre-load").count() == nBase,
      "tag must keep resolving the pre-publish snapshot")
    cat.read("silver.customer").orderBy($"c_custkey")
  }

  /** Declared sort order + bloom columns as the table's standing
    * layout contract: scrambled appends land range-disjoint on the
    * sort key (skipping never decays), the bloom set arms equality
    * probes on the unsorted name column, and the plan metrics are
    * asserted inline — a range scan across three commits reads at
    * most one file per commit boundary, and a bloom point-probe opens
    * one file. The oracle checks the scan results.
    */
  def sortedBloomScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val orders = Tables(spark, dir).orders
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderstatus")
    def slice(m: Int) = orders.filter(pmod($"o_orderkey", lit(3)) === m)
      .orderBy(rand(seed = 7)).repartition(4) // scrambled arrival
    cat.write(slice(0), "bronze.orders", WriteMode.Overwrite,
      sortedBy = Seq("o_orderkey"), bloomBy = Seq("o_orderstatus"))
    val t = cat.table("bronze.orders")
    t.write(slice(1), WriteMode.Append)
    t.write(slice(2), WriteMode.Append)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    val total = t.latest.get.dirs.map(d => t.io.countFiles(t.loc(d), ".parquet")).sum
    val range = t.scan(Seq(graft.lake.LakePredicate.GtEq("o_orderkey", 1000L),
      graft.lake.LakePredicate.LtEq("o_orderkey", 1400L)))
    require(filesRead(range) <= 6 && filesRead(range) < total,
      s"sorted appends must keep range scans narrow (${filesRead(range)} of $total files)")
    range.orderBy($"o_orderkey")
  }

  /** Declared z-order clustering: the table persists `zorderBy
    * (o_orderkey, o_custkey)`, every append Morton-clusters its own
    * files, and a range probe on the TRAILING dimension — the one a
    * lexicographic sort cannot bound — still skips files, asserted
    * in-query against the manifest file counts. Fixture-shape note:
    * AQE would coalesce these tiny commits to one file each and hide
    * intra-commit skipping (real files split on size), so the writes
    * pin 8 clustered files per commit and restore the session conf.
    */
  def zorderScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val orders = Tables(spark, dir).orders
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    def slice(m: Int) = orders.filter(pmod($"o_orderkey", lit(3)) === m)
      .orderBy(rand(seed = 11)) // scrambled arrival
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val partsKey = "spark.sql.shuffle.partitions"
    val (prevCoalesce, prevParts) = (spark.conf.get(coalesceKey), spark.conf.get(partsKey))
    spark.conf.set(coalesceKey, "false")
    spark.conf.set(partsKey, "8")
    val t = try {
      cat.write(slice(0), "bronze.orders", WriteMode.Overwrite,
        zorderBy = Seq("o_orderkey", "o_custkey"))
      val t = cat.table("bronze.orders")
      t.write(slice(1), WriteMode.Append)
      t.write(slice(2), WriteMode.Append)
      t
    } finally {
      spark.conf.set(coalesceKey, prevCoalesce)
      spark.conf.set(partsKey, prevParts)
    }
    require(t.latest.get.meta(graft.lake.FileStats.SortOrderKey) ==
      "z:o_orderkey,o_custkey", "z clustering must persist as a table property")
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    val total = t.latest.get.dirs.map(d => t.io.countFiles(t.loc(d), ".parquet")).sum
    // the TRAILING z dimension: lexicographic clustering cannot bound
    // it; z-order must
    val box = t.scan(Seq(graft.lake.LakePredicate.GtEq("o_custkey", 100L),
      graft.lake.LakePredicate.LtEq("o_custkey", 200L)))
    val read = filesRead(box)
    require(read < total,
      s"z-order must skip files on the trailing dimension ($read of $total)")
    box.orderBy($"o_orderkey")
  }

  /** Metadata-only DELETE (Iceberg's metadata delete): orders lands in
    * three ranged commits; `DELETE WHERE o_orderkey >= 10000` drops the
    * fully-covered third dir straight from the manifest — asserted
    * in-query: ZERO Spark jobs ran during the statement and the
    * surviving dirs are exactly the first two. The 100 TB retention
    * shape: dropping an append-ordered table's old commits reads no
    * rows. A second, PARTIAL delete then proves the fallback stays
    * exact on the same table.
    */
  def metadataDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val orders = Tables(spark, dir).orders
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    cat.write(orders.filter($"o_orderkey" < 5000), "bronze.orders",
      WriteMode.Overwrite, statsBy = Seq("o_orderkey"))
    val t = cat.table("bronze.orders")
    t.write(orders.filter($"o_orderkey" >= 5000 && $"o_orderkey" < 10000),
      WriteMode.Append)
    t.write(orders.filter($"o_orderkey" >= 10000), WriteMode.Append)
    val cold = t.latest.get.dirs.take(2)
    var jobs = 0
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    org.apache.spark.sql.GraftColumnBridge.waitListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    val snap = try {
      val s = LakeDml.delete(t, $"o_orderkey" >= 10000L)
      org.apache.spark.sql.GraftColumnBridge.waitListenerBus(spark.sparkContext)
      s
    } finally spark.sparkContext.removeSparkListener(l)
    require(jobs == 0, s"whole-dir delete must be metadata-only, ran $jobs jobs")
    require(snap.dirs == cold, "only the fully-covered dir may drop")
    // partial delete on the same table: provably NOT metadata-only,
    // must still be exact
    LakeDml.delete(t, $"o_orderkey".between(7000L, 7100L))
    t.read().orderBy($"o_orderkey")
  }

  /** Predicate-scoped compaction (Iceberg's `rewrite_data_files(where)`
    * shape): orders lands in three ranged commits plus a MOR DELETE in
    * the hot range; `compactWhere` folds ONLY the overlapping dirs —
    * asserted in-query: the cold commit dirs survive by name. The
    * checked result is the post-compact table (deletes folded), which
    * must equal orders minus the deleted band.
    */
  def compactWhereScoped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val orders = Tables(spark, dir).orders
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    // orderkeys are dense from 0 in the fixtures; the first two commits
    // are cold, the open-ended third is hot at every sf
    cat.write(orders.filter($"o_orderkey" < 5000), "bronze.orders",
      WriteMode.Overwrite, statsBy = Seq("o_orderkey"))
    val t = cat.table("bronze.orders")
    t.write(orders.filter($"o_orderkey" >= 5000 && $"o_orderkey" < 10000),
      WriteMode.Append)
    t.write(orders.filter($"o_orderkey" >= 10000), WriteMode.Append)
    LakeDml.delete(t, $"o_orderkey".between(11000L, 11200L),
      strategy = DmlStrategy.MergeOnRead)
    val cold = t.latest.get.dirs.take(2).toSet
    val snap = t.compactWhere(Seq(graft.lake.LakePredicate.GtEq("o_orderkey", 10000L)))
    require(cold.subsetOf(snap.dirs.toSet),
      "scoped compaction must not touch dirs disjoint from the predicate")
    require(snap.dirs.size == cold.size + 1,
      "overlapping dirs must fold to one")
    t.read().orderBy($"o_orderkey")
  }

  /** In-place parquet import (Iceberg's `add_files`/`migrate`): half
    * of `orders` pre-exists as plain parquet outside any table; a lake
    * table holds the other half; `addFiles` registers the legacy dir by
    * a METADATA-ONLY commit — asserted in-query: the manifest's new dir
    * is the external source URI and the table's owned file set did not
    * grow. The checked result is a range probe over the combined table,
    * which must equal the same probe over the original full `orders`.
    */
  def addFilesImport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val orders = Tables(spark, dir).orders
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    // "legacy" pre-existing parquet: odd orderkeys, written by plain
    // Spark with no lake involvement
    val legacy = scratchDir("graft-legacy-").toString
    orders.filter(pmod($"o_orderkey", lit(2)) === 1)
      .repartitionByRange(4, $"o_orderkey")
      .write.mode("overwrite").parquet(legacy)
    cat.write(orders.filter(pmod($"o_orderkey", lit(2)) === 0),
      "bronze.orders", WriteMode.Overwrite, statsBy = Seq("o_orderkey"))
    val t = cat.table("bronze.orders")
    val owned = t.latest.get.dirs.map(d => t.io.countFiles(t.loc(d), ".parquet")).sum
    val snap = t.addFiles(legacy)
    require(graft.lake.LakeTable.externalDir(snap.dirs.last),
      "import must reference the source dir, not copy it")
    val ownedAfter = snap.dirs.filterNot(graft.lake.LakeTable.externalDir)
      .map(d => t.io.countFiles(t.loc(d), ".parquet")).sum
    require(ownedAfter == owned, "import moved data — add_files must be metadata-only")
    // footer-harvested counts serve the metadata count(*) immediately
    require(t.metadataRowCount().contains(t.read().count()),
      "imported rows must be countable from the manifest")
    t.scan(Seq(graft.lake.LakePredicate.GtEq("o_custkey", 500L),
      graft.lake.LakePredicate.LtEq("o_custkey", 700L)))
      .orderBy($"o_orderkey")
  }

  /** Metadata-only aggregates (the Iceberg/Delta "count from
    * manifests" shape): `count(*)` and numeric MIN/MAX answered from
    * the manifest alone over a three-append table — zero data read at
    * any table size. The fast path is ASSERTED in-query: both values
    * must come from metadata (`metadataRowCount`/`metadataBounds`
    * Some), and the SQL `count(*)` must fold to a [[org.apache.spark
    * .sql.catalyst.plans.logical.LocalRelation]] with no scan in the
    * optimized plan, agreeing with the API answer. The DuckDB oracle
    * recomputes all three by actually scanning.
    */
  def metaAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wh = scratchDir("graft-lake-").toString
    val c = s"gsqlq${sqlCatalogCounter.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$c", classOf[graft.lake.sqlcat.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", wh)
    val cat = new LakeCatalog(spark, wh)
    val orders = Tables(spark, dir).orders
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    def slice(m: Int) = orders.filter(pmod($"o_orderkey", lit(3)) === m)
    cat.write(slice(0), "bronze.orders", WriteMode.Overwrite,
      statsBy = Seq("o_totalprice"))
    val t = cat.table("bronze.orders")
    t.write(slice(1), WriteMode.Append) // stats + row counts auto-collect
    t.write(slice(2), WriteMode.Append)
    val cnt = t.metadataRowCount().getOrElse(
      sys.error("delete-free table must answer count(*) from manifests"))
    val (lo, hi) = t.metadataBounds("o_totalprice").getOrElse(
      sys.error("stats column must answer MIN/MAX from manifest blobs"))
    // the driver-checked result IS the folded SQL: asserted to plan as
    // a metadata LocalRelation (no scan) and to agree with the API
    val sql = spark.sql(
      s"""SELECT count(*) AS cnt, min(o_totalprice) AS min_tp,
         |  max(o_totalprice) AS max_tp FROM $c.bronze.orders""".stripMargin)
    require(sql.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      s"SQL count/min/max must fold to a metadata LocalRelation, got:\n" +
        sql.queryExecution.optimizedPlan)
    val row = sql.head
    require(row.getLong(0) == cnt && row.getDouble(1) == lo.toDouble &&
      row.getDouble(2) == hi.toDouble, "SQL fold and API must agree")
    sql
  }

  /** Multi-statement transaction: the bronze+gold publish lands
    * all-or-nothing (stage both writes, CAS-publish in sequence), and
    * a second transaction that loses a race to a concurrent commit
    * rolls its published half back — asserted inline: after the
    * failed transaction both tables read exactly their pre-race
    * state. The oracle checks the committed gold aggregate.
    */
  def txnPublish(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val orders = Tables(spark, dir).orders
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    val even = orders.filter(pmod($"o_orderkey", lit(2)) === 0)
    val odd  = orders.filter(pmod($"o_orderkey", lit(2)) === 1)
    cat.write(even.repartition(4), "bronze.orders", WriteMode.Overwrite)
    cat.write(even.groupBy($"o_orderstatus").agg(count(lit(1)).as("cnt")),
      "gold.status_counts", WriteMode.Overwrite)
    // one transaction: backfill bronze AND refresh gold over the union
    cat.transaction()
      .write(odd, "bronze.orders", WriteMode.Append)
      .write(orders.groupBy($"o_orderstatus").agg(count(lit(1)).as("cnt")),
        "gold.status_counts", WriteMode.Overwrite)
      .commit()
    // the published-state read and the source count are independent
    // read-only actions — overlapped (guide §2.6); the source count is
    // taken once and reused by the post-rollback assert below
    val (bronzeN1, nOrders) =
      inParallel(cat.read("bronze.orders").count(), orders.count())
    require(bronzeN1 == nOrders,
      "transaction must publish the bronze backfill")
    // a racing transaction: its bronze half publishes first, then its
    // gold half conflicts (an interloper refreshed gold) — the whole
    // txn must unwind, restoring bronze
    val bronzeV = cat.table("bronze.orders").latest.get.version
    val txn2 = cat.transaction()
      .write(odd, "bronze.orders", WriteMode.Append) // would double-count
      .write(even.groupBy($"o_orderstatus").agg(lit(-1L).as("cnt")),
        "gold.status_counts", WriteMode.Overwrite)
    cat.write(orders.groupBy($"o_orderstatus").agg(count(lit(1)).as("cnt")),
      "gold.status_counts", WriteMode.Overwrite) // interloper refresh
    val failed = scala.util.Try(txn2.commit())
    require(failed.isFailure, "conflicted transaction must abort")
    require(cat.read("bronze.orders").count() == nOrders,
      "rollback must restore the published half of a failed transaction")
    require(cat.table("bronze.orders").latest.get.version > bronzeV,
      "rollback re-commits; history stays immutable")
    cat.read("gold.status_counts").orderBy($"o_orderstatus")
  }

  /** Right-to-be-forgotten erasure sweep ([[graft.lake.Privacy]]):
    * two tables carry the same subjects under different key columns
    * (events by user_id, profiles by c_custkey); forgetting users
    * 1..50 must (a) COW-delete their rows, (b) expire every prior
    * snapshot, (c) orphan-sweep the old files, and (d) report a ZERO
    * storage-level residual — measured by re-reading every parquet
    * file still on disk, not inferred from metadata. Inline asserts
    * pin the erasure evidence (residual 0, single surviving snapshot,
    * history purged); the oracle checks the remaining-row counts.
    */
  def forgetUsers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val t = Tables(spark, dir)
    // two commits each, so expiry has real history to purge
    val ev = t.events.select($"event_id", $"user_id", $"value")
    cat.write(ev.filter($"event_id" % 2 === 0), "pii.events", WriteMode.Overwrite)
    cat.write(ev.filter($"event_id" % 2 === 1), "pii.events", WriteMode.Append)
    val prof = t.customer.select($"c_custkey", $"c_name", $"c_acctbal")
    cat.write(prof.filter($"c_custkey" % 2 === 0), "pii.profiles", WriteMode.Overwrite)
    cat.write(prof.filter($"c_custkey" % 2 === 1), "pii.profiles", WriteMode.Append)
    val keys: Seq[Any] = (1L to 50L)
    val results = graft.lake.Privacy.forget(cat,
      Seq("pii.events" -> "user_id", "pii.profiles" -> "c_custkey"), keys)
    results.foreach { r =>
      require(r.residualRows == 0L, s"${r.ident}: ${r.residualRows} residual rows")
      require(r.rowsDeleted > 0L, s"${r.ident}: erasure matched nothing")
      require(cat.table(r.ident).history.size == 1,
        s"${r.ident}: prior snapshots survived erasure")
    }
    // the two post-erasure remaining-row counts are independent
    // read-only actions on disjoint tables — overlapped (guide §2.6)
    val (evN, prN) = inParallel(
      cat.read("pii.events").count(), cat.read("pii.profiles").count())
    Seq(
      ("events", evN,
        results.find(_.ident == "pii.events").get.residualRows),
      ("profiles", prN,
        results.find(_.ident == "pii.profiles").get.residualRows))
      .toDF("tbl", "rows_remaining", "residual_rows")
      .orderBy($"tbl")
  }

  /** Erasure CASCADE into derived dedup state
    * ([[graft.lake.Privacy.forgetDedupIndex]]): scrubbing the corpus
    * tables is not enough — a subject's document ids and shingle sets
    * live on in the at-ingest MinHash index
    * ([[graft.ops.IncrementalDedup]]'s `bands/`, `shingles/`,
    * `drops/`). A corpus slice is ingested through the incremental
    * dedup index, then subjects 0..9 are erased FROM THE INDEX TABLES
    * with the full forget contract (COW delete + history expiry +
    * orphan sweep + storage-level residual audit). Inline requires pin
    * the erasure evidence: zero residual per index table, subject rows
    * actually deleted from bands and shingles, single surviving
    * snapshot. Tombstones for OTHER documents survive by design (a
    * doc dropped against a subject stays dropped — erasure removes the
    * subject's data, it does not re-run curation), which is exactly
    * what the oracle checks: the post-erasure kept report over the
    * remaining docs equals the exhaustive batch answer computed over
    * the FULL original corpus, restricted to the survivors.
    */
  def forgetCascade(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir).documents.filter($"doc_id" < 250)
    val work = scratchDir("graft-forgetcascade-")
    // two interleaved arrival slices → the index accumulates across
    // triggers before the erasure runs against it
    graft.ops.IncrementalDedup.ingest(spark, docs, work, "arrival-1", slices = 2)
    val subjects: Seq[Any] = (0L until 10L)
    val results = graft.lake.Privacy.forgetDedupIndex(spark, work, subjects)
    val byTbl = results.map(r => r.ident -> r).toMap
    // drops/ only exists once a near-dup ever landed — a corpus slice
    // with no dups legitimately has just the two signature tables
    require(Set("bands", "shingles").subsetOf(byTbl.keySet),
      s"expected the MinHash index tables, got ${byTbl.keySet}")
    results.foreach { r =>
      require(r.residualRows == 0L, s"${r.ident}: ${r.residualRows} residual rows")
    }
    Seq("bands", "shingles").foreach { n =>
      require(byTbl(n).rowsDeleted > 0L, s"$n: subject rows were not indexed")
    }
    // the subject must be gone from a plain read of every index table;
    // the three audit counts are independent single-job actions on
    // disjoint tables — run them concurrently (guide §2.6)
    locally {
      val audits = graft.lake.Privacy.IndexTableNames.map(n => graft.Async(spark) {
        val t = new graft.lake.LakeTable(spark, work.resolve(n).toString)
        if (t.latest.isDefined) {
          require(t.read().where(col("id").isin(subjects: _*)).count() == 0L,
            s"$n: subject ids survived erasure")
          require(t.history.size == 1, s"$n: prior snapshots survived erasure")
        }
      })
      // settle all before rethrowing: a failed audit must not leave
      // sibling audit jobs running past the exception
      val settled = audits.map(graft.Async.settle)
      settled.collect { case scala.util.Failure(e) => e } match {
        case Nil => ()
        case e :: rest => rest.foreach(e.addSuppressed); throw e
      }
    }
    graft.ops.IncrementalDedup.keptReport(spark, docs.filter($"doc_id" >= 10), work)
  }

  /** Catalog-wide erasure with derived-table DISCOVERY
    * ([[graft.lake.Privacy.forgetCatalog]]): "delete user X from
    * orders" quietly leaves X's aggregate row alive in every
    * subject-keyed materialized view — state the deletion request
    * never names because the requester doesn't know it exists.
    * A base table plus an incrementally-maintained per-customer
    * rollup are built, then ONE catalog-wide request for customers
    * 1..50 discovers every table carrying the key column and erases
    * both, with the full contract per table (COW delete + history
    * expiry + orphan sweep + storage residual). Inline requires pin
    * the discovery set and the per-table evidence; the oracle
    * recomputes the surviving rollup relationally.
    */
  def forgetDerived(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.lake.IncrementalView
    import graft.lake.IncrementalView.{GroupCount, Sum}
    val cat = freshCatalog(spark)
    val orders = Tables(spark, dir).orders.select($"o_orderkey", $"o_custkey",
      round($"o_totalprice" * 100).cast("long").as("cents"))
    cat.write(orders.filter($"o_orderkey" % 2 === 0), "bronze.orders", WriteMode.Overwrite)
    cat.write(orders.filter($"o_orderkey" % 2 === 1), "bronze.orders", WriteMode.Append)
    val aggs = Seq(GroupCount("n_orders"), Sum($"cents", "sum_cents"))
    IncrementalView.refresh(cat, "bronze.orders", "gold.by_cust",
      Seq("o_custkey"), aggs)
    val keys: Seq[Any] = (1L to 50L)
    val results = graft.lake.Privacy.forgetCatalog(cat, "o_custkey", keys)
    require(results.map(_.ident).toSet == Set("bronze.orders", "gold.by_cust"),
      s"discovery must find the base AND the derived rollup, got ${results.map(_.ident)}")
    results.foreach { r =>
      require(r.residualRows == 0L, s"${r.ident}: ${r.residualRows} residual rows")
      require(r.rowsDeleted > 0L, s"${r.ident}: erasure matched nothing")
      require(cat.table(r.ident).history.size == 1,
        s"${r.ident}: prior snapshots survived erasure")
    }
    IncrementalView.read(cat, "gold.by_cust").orderBy($"o_custkey")
  }

  /** Erasure cascade into BITMAP SEGMENT state
    * ([[graft.lake.Privacy.forgetSegments]]): a subject's ids survive
    * a corpus scrub as BITS inside derived Roaring segments — state no
    * row-level DELETE can reach because the subject owns no row there.
    * Events fold into a per-(type, day) distinct-user segment store
    * over two commits ([[graft.ops.BitmapSegments]]), then users 1..50
    * are removed from every segment by exact ANDNOT (`bitmap64_remove`
    * — no rebuild from raw events, which a real request would already
    * have scrubbed), history expires, old files sweep, and the
    * bitmap-level storage audit re-intersects every remaining parquet
    * file with the keys. Inline requires pin the evidence (zero
    * residual bits, segments actually scrubbed, single surviving
    * snapshot); the oracle recomputes the post-erasure DAU
    * relationally from raw events minus the subjects.
    */
  def forgetSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.lake.LakeTable
    val cat = freshCatalog(spark)
    val events = Tables(spark, dir).events
      .select($"event_id", $"ts", $"user_id", $"event_type")
    cat.write(events.filter($"event_id" % 2 === 0), "bronze.ev", WriteMode.Overwrite)
    cat.table("bronze.ev").write(events.filter($"event_id" % 2 === 1), WriteMode.Append)
    val segT = new LakeTable(spark,
      scratchDir("graft-forgetseg-").resolve("segments").toString)
    // fold BOTH event commits in one trigger: the erasure test needs
    // the segment STORE, not per-commit trigger pacing (OR-merge is
    // associative — one batch over two commits builds the identical
    // store; s_segment_maintain keeps the per-commit cadence as its
    // own headline behavior)
    graft.ops.BitmapSegments.maintain(spark, cat.table("bronze.ev"), segT,
      scratchDir("graft-forgetseg-ckpt-").toString, maxCommitsPerTrigger = None)
    val res = graft.lake.Privacy.forgetSegments(segT, (1L to 50L))
    require(res.residualRows == 0L,
      s"${res.residualRows} segments still carry subject bits on disk")
    require(res.rowsDeleted > 0L, "no segment carried the subjects — fixture broken")
    require(segT.history.size == 1, "prior segment snapshots survived erasure")
    // emptied segments remain as legitimate zero-member slices; the
    // relational oracle only sees groups with surviving users
    graft.ops.BitmapSegments.dailyCounts(segT).where($"dau" > 0)
  }

  /** Branch-based write-audit-publish (Iceberg's `spark.wap.branch`
    * surface): a branch takes MULTIPLE validation writes — the case
    * single staged commits cannot cover — while main readers see
    * nothing; fast-forward then publishes the whole branch state as
    * ONE metadata-only main commit. Invisibility, branch visibility,
    * and the single-commit publish are asserted inline; the oracle
    * checks the published result.
    */
  def branchWap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val customer = Tables(spark, dir).customer
    cat.write(customer.repartition(4), "silver.customer", WriteMode.Overwrite)
    val t = cat.table("silver.customer")
    t.createBranch("audit")
    val batch1 = customer.filter($"c_nationkey" < 3).select(
      (-$"c_custkey").as("c_custkey"), $"c_name", $"c_nationkey",
      lit(0.0).as("c_acctbal"), lit("AUDIT1").as("c_mktsegment"))
    val batch2 = customer.filter($"c_nationkey".between(10, 12)).select(
      ($"c_custkey" + 10000000L).as("c_custkey"), $"c_name", $"c_nationkey",
      lit(-1.0).as("c_acctbal"), lit("AUDIT2").as("c_mktsegment"))
    val nBase = customer.count()
    t.writeBranch("audit", batch1, WriteMode.Append)
    t.writeBranch("audit", batch2, WriteMode.Append)
    // main-invisibility and the branch audit read are independent
    // read-only actions on disjoint snapshots — overlapped (guide §2.6)
    val (mainN, nBranch) =
      inParallel(t.read(None).count(), t.readBranch("audit").count())
    require(mainN == nBase,
      "branch writes must be invisible on main before fast-forward")
    require(t.history.size == 1, "branch writes must not create main versions")
    t.fastForward("audit")
    require(t.read(None).count() == nBranch,
      "fast-forward must publish exactly the audited branch state")
    require(t.history.size == 2, "fast-forward is ONE metadata-only commit")
    cat.read("silver.customer").orderBy($"c_custkey")
  }

  /** Incrementally-maintained materialized aggregate view
    * ([[graft.lake.IncrementalView]]): the reference's gold layer
    * recomputes its grouped aggregate from the FULL silver table every
    * run (`/root/reference/dags/etl.py:80-96`); here the refresh after
    * an append + a merge-on-read delete folds only the CHANGELOG —
    * asserted via the commit's refreshMode meta — including the
    * delete-forced MIN/MAX recompute bounded to touched groups. SUMs
    * ride exact integer cents so the incremental fold is bit-equal to
    * the oracle's direct aggregate.
    */
  def incrView(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.lake.IncrementalView
    import graft.lake.IncrementalView.{Avg, GroupCount, Max, Min, Sum}
    val cat = freshCatalog(spark)
    val orders = Tables(spark, dir).orders.select(
      $"o_custkey", $"o_orderkey", $"o_totalprice",
      round($"o_totalprice" * 100).cast("long").as("cents"))
    // avg over exact integer cents: sum and divisor are integers in
    // both engines, so the one double division is bit-deterministic
    val aggs = Seq(GroupCount("cnt"), Sum(col("cents"), "sum_cents"),
      Min(col("o_totalprice"), "min_price"), Max(col("o_totalprice"), "max_price"),
      Avg(col("cents"), "avg_cents"))
    cat.write(orders.filter(pmod($"o_orderkey", lit(4)).isin(1, 2)).repartition(4),
      "silver.orders", WriteMode.Overwrite)
    val first = IncrementalView.refresh(cat, "silver.orders", "gold.by_cust",
      Seq("o_custkey"), aggs)
    require(first.meta(IncrementalView.RefreshModeKey) == "full",
      "first refresh builds the view full")
    // trickle: one append commit, one MOR delete commit
    cat.write(orders.filter(pmod($"o_orderkey", lit(4)) === 3),
      "silver.orders", WriteMode.Append)
    LakeDml.delete(cat.table("silver.orders"),
      pmod($"o_orderkey", lit(8)) === 2, strategy = DmlStrategy.MergeOnRead)
    val snap = IncrementalView.refresh(cat, "silver.orders", "gold.by_cust",
      Seq("o_custkey"), aggs)
    require(snap.meta(IncrementalView.RefreshModeKey) == "incremental",
      "append + MOR delete must refresh on the changelog path, not rebuild")
    IncrementalView.read(cat, "gold.by_cust").orderBy($"o_custkey")
  }

  /** The star-schema MV STACK: an aggregate view maintained ON TOP of
    * a join view. `silver.enriched` (orders ⋈ customer segment, a
    * [[graft.lake.JoinView]] refreshed MERGE-ON-READ so its commits
    * stay row-level-changelog-readable) feeds `gold.seg_rollup`
    * (count + exact cents sum per segment, an
    * [[graft.lake.IncrementalView]]). After a fact append AND a dim
    * segment re-assignment, BOTH layers refresh from changelogs — the
    * rollup's `refreshMode=incremental` is asserted in-query, so the
    * composition provably never re-reads the fact table. This is the
    * full dashboard stack (enrich → rollup) at O(changed keys) per
    * trickle instead of the reference's nightly full recompute.
    */
  def mvStack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.lake.{DmlStrategy, IncrementalView, JoinView}
    import graft.lake.IncrementalView.{GroupCount, Sum}
    val cat = freshCatalog(spark)
    val t = Tables(spark, dir)
    val orders = t.orders.select($"o_orderkey", $"o_custkey",
      round($"o_totalprice" * 100).cast("long").as("cents"))
    val cust = t.customer.select($"c_custkey", $"c_mktsegment")
    // independent tables commit on concurrent action threads (guide
    // §2.6): the scheduler back-fills the fact write's task tail with
    // the dim write's tasks
    inParallel(
      cat.write(orders.filter($"o_orderkey" % 3 =!= 0), "bronze.orders", WriteMode.Overwrite),
      cat.write(cust, "dim.customer", WriteMode.Overwrite))
    def refreshJoin() = JoinView.refresh(cat, "bronze.orders", "dim.customer",
      "silver.enriched", factKey = "o_orderkey", joinKey = "o_custkey",
      dimKey = "c_custkey", dimCols = Seq("c_mktsegment"),
      strategy = DmlStrategy.MergeOnRead)
    val aggs = Seq(GroupCount("n_orders"), Sum($"cents", "sum_cents"))
    refreshJoin()
    val first = IncrementalView.refresh(cat, "silver.enriched", "gold.seg_rollup",
      Seq("c_mktsegment"), aggs)
    require(first.meta(IncrementalView.RefreshModeKey) == "full",
      "first rollup refresh builds full")
    // trickle: fact append + a dim segment re-assignment (upsert)
    inParallel(
      cat.write(orders.filter($"o_orderkey" % 3 === 0), "bronze.orders", WriteMode.Append),
      cat.table("dim.customer").upsert(
        cust.filter($"c_custkey" % 10 === 0)
          .withColumn("c_mktsegment", lit("MACHINERY")), Seq("c_custkey")))
    refreshJoin() // folds BOTH changelogs into the enriched view
    val second = IncrementalView.refresh(cat, "silver.enriched", "gold.seg_rollup",
      Seq("c_mktsegment"), aggs)
    require(second.meta(IncrementalView.RefreshModeKey) == "incremental",
      "the rollup must refresh from the join view's MOR changelog, not rebuild")
    IncrementalView.read(cat, "gold.seg_rollup").orderBy($"c_mktsegment")
  }

  /** Transparent materialized-view rewrite, end to end: a reader's
    * plain `GROUP BY` SQL against the BASE table is answered from the
    * incrementally-maintained view by [[graft.plans.ViewRewriteRule]]
    * — the reader never names the view (the reference hand-routes
    * readers at its Gold table instead, /root/reference/dags/etl.py:80-96;
    * here the optimizer carries that knowledge). The rewrite only
    * fires when the view is FRESH (recorded source version == base
    * current version), so the trickled append is followed by an
    * incremental refresh before querying; the plan probe asserts the
    * executed scan reads the view's files and never the base's. At
    * 100 TB: O(|groups|) view read instead of a full fact scan, for
    * every dashboard query shaped like the rollup the pipeline
    * already maintains.
    */
  def viewRewrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.lake.IncrementalView
    val wh = scratchDir("graft-lake-").toString
    val c = s"gsqlq${sqlCatalogCounter.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$c", classOf[graft.lake.sqlcat.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", wh)
    val cat = new LakeCatalog(spark, wh)
    val ev = Tables(spark, dir).events.select($"event_type", $"value", $"user_id")
    cat.write(ev.filter(pmod($"user_id", lit(2)) === 0), "silver.ev", WriteMode.Overwrite)
    // view keyed FINER than the query below groups — the rewrite must
    // compose (sum-of-counts / sum-of-sums / min-of-mins), not just
    // project, exactly the rollup-lattice trick every OLAP engine
    // plays (one (type, user) view answers both per-user and per-type)
    IncrementalView.refreshSql(cat, "silver.ev", "gold.ev_by_type_user",
      Seq("event_type", "user_id"),
      Seq("count(*) as n", "sum(CAST(value AS DECIMAL(18,4))) as sv",
        "min(value) as minv", "max(value) as maxv"))
    graft.plans.ViewRewrite.register(cat, "gold.ev_by_type_user")
    // trickle an append, then refresh on the changelog path — the view
    // is fresh again and the rewrite may legally answer from it
    cat.write(ev.filter(pmod($"user_id", lit(2)) === 1), "silver.ev", WriteMode.Append)
    val snap = IncrementalView.refreshByName(cat, "gold.ev_by_type_user")
    require(snap.meta(IncrementalView.RefreshModeKey) == "incremental",
      "append must refresh incrementally, not rebuild")
    def assertViewRead(sql: String): Unit = {
      val probe = spark.sql(sql)
      probe.collect()
      val pstr = probe.queryExecution.executedPlan.toString
      require(pstr.contains("gold/ev_by_type_user"),
        s"expected view-rewritten scan, got:\n$pstr")
      require(!pstr.contains("silver/ev"),
        s"base table leaked into the rewritten plan:\n$pstr")
    }
    // exact-key hit: the view rows are the answer
    assertViewRead(s"SELECT event_type, user_id, count(*) AS n " +
      s"FROM $c.silver.ev GROUP BY event_type, user_id")
    // subset-key hit (the returned, oracle-compared query): regrouped
    val sql =
      s"""SELECT event_type, count(*) AS n,
         |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
         |       min(value) AS min_value, max(value) AS max_value
         |FROM $c.silver.ev GROUP BY event_type ORDER BY event_type""".stripMargin
    assertViewRead(sql)
    spark.sql(sql)
  }

  /** REAL Iceberg-format roundtrip (the reference's actual on-disk
    * contract — `iceberg-spark-runtime` pins,
    * /root/reference/docker/Dockerfile:22-28): export two append
    * snapshots plus an equality-delete commit as spec-compliant v2
    * metadata (metadata.json + Avro manifest lists + Avro manifests,
    * name-mapping property for the id-less parquet), then read the
    * table back through [[graft.lake.IcebergTableReader]] — a
    * from-scratch generic-Avro reader with sequence-number delete
    * semantics. No Iceberg runtime on the classpath in either
    * direction.
    */
  /** Real Delta-format roundtrip (the OTHER open table format, via the
    * public `_delta_log` protocol, no Delta runtime): two partitioned
    * append commits, a parquet checkpoint, a metadata-only partition
    * DELETE (tombstones), and a post-checkpoint append — read back
    * through [[graft.lake.DeltaTableReader]]'s checkpoint + JSON-tail
    * replay with partition values re-injected from `add.partitionValues`
    * (the files physically lack the partition column).
    */
  def deltaRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.lake.{DeltaExport, DeltaTableReader, LakePredicate}
    val loc = scratchDir("graft-delta-").toString
    val exp = new DeltaExport(spark, loc)
    val orders = Tables(spark, dir).orders
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
    exp.append(orders.filter(pmod($"o_orderkey", lit(3)) === 0),
      partitionBy = Seq("o_orderpriority"))
    exp.append(orders.filter(pmod($"o_orderkey", lit(3)) === 1))
    // checkpoint, then keep committing: the reader must replay
    // checkpoint + JSON tail, not just one or the other
    exp.checkpoint()
    // metadata-only partition delete: applies to both earlier commits
    exp.deleteWhere(Seq(LakePredicate.EqualTo("o_orderpriority", "1-URGENT")))
    exp.append(orders.filter(pmod($"o_orderkey", lit(3)) === 2))
    new DeltaTableReader(spark, loc).read().orderBy($"o_orderkey")
  }

  /** Hive-partitioned in-place import: orders staged as a hive layout
    * (partition values ONLY in `o_orderpriority=...` dir names), then
    * [[graft.lake.LakeTable.addFiles]] adopts it metadata-only — the
    * layout column re-materializes typed through partition discovery,
    * composes with a later owned append, and Catalyst partition-prunes
    * the external dir on layout-column predicates.
    */
  def hiveImport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = scratchDir("graft-hiveimp-").toString
    val orders = Tables(spark, dir).orders
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
    orders.filter(pmod($"o_orderkey", lit(2)) === 0)
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(src)
    val cat = freshCatalog(spark)
    val t = cat.table("bronze.hive_imp")
    t.addFiles(src)
    // owned append on top of the import: both generations union
    t.write(orders.filter(pmod($"o_orderkey", lit(2)) === 1),
      graft.lake.WriteMode.Append)
    val out = t.read()
    require(out.where($"o_orderpriority".isNull).count() == 0,
      "layout column must re-materialize, never null-fill")
    out.orderBy($"o_orderkey")
  }

  /** Delta deletion vectors end to end: row-level deletes land as
    * portable roaring bitmaps (no data file rewritten — asserted
    * in-query), compose across two delete commits, survive a
    * checkpoint, and the reader masks exactly the deleted coordinates.
    */
  def deltaDvDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.lake.{DeltaExport, DeltaTableReader}
    val loc = scratchDir("graft-deltadv-").toString
    val exp = new DeltaExport(spark, loc)
    val orders = Tables(spark, dir).orders
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    exp.append(orders)
    val filesBefore = new DeltaTableReader(spark, loc).read().inputFiles.sorted.toSeq
    exp.deleteRows($"o_orderkey" % 10 === 3)
    exp.deleteRows($"o_totalprice" > 500000.0)
    exp.checkpoint()
    val rdr = new DeltaTableReader(spark, loc)
    val out = rdr.read()
    require(out.inputFiles.sorted.toSeq == filesBefore,
      "deletion vectors must mask rows, not rewrite data files")
    out.orderBy($"o_orderkey")
  }

  /** Delta change-feed by log replay ([[graft.lake.DeltaTableReader]]
    * `.readChanges`): the row-level changelog of a partitioned Delta
    * table — v0/v1 appends deliver as inserts, a metadata-only
    * partition delete re-reads its tombstoned files (still on disk)
    * as delete rows with partition values re-injected.
    */
  def deltaChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.lake.{DeltaExport, DeltaTableReader, LakePredicate}
    val loc = scratchDir("graft-deltacdf-").toString
    val exp = new DeltaExport(spark, loc)
    val cust = Tables(spark, dir).customer
      .select($"c_custkey", $"c_name", $"c_nationkey", $"c_mktsegment")
    exp.append(cust.filter(pmod($"c_custkey", lit(2)) === 0),
      partitionBy = Seq("c_mktsegment"))
    exp.append(cust.filter(pmod($"c_custkey", lit(2)) === 1))
    exp.deleteWhere(Seq(LakePredicate.EqualTo("c_mktsegment", "BUILDING")))
    // v3: a deletion-vector delete — the changelog must deliver the
    // position DIFF as delete rows, not re-read whole files
    exp.deleteRows(pmod($"c_custkey", lit(100)) === 7)
    new DeltaTableReader(spark, loc).readChanges(-1L)
      .orderBy($"_commit_version", $"_change_type", $"c_custkey")
  }

  /** Iceberg changelog scan over an exported v2 history: an append
    * delivers inserts, an equality-delete commit materializes its key
    * matches as deletes against the prior snapshot, and a
    * position-delete commit materializes exactly the named coordinates
    * — all from the real Avro metadata, no Iceberg runtime.
    */
  def icebergChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.lake.{IcebergExport, IcebergTableReader}
    val loc = scratchDir("graft-icecdf-").toString
    val exp = new IcebergExport(spark, loc)
    val orders = Tables(spark, dir).orders
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    exp.append(orders.filter(pmod($"o_orderkey", lit(3)) === 0))
    exp.append(orders.filter(pmod($"o_orderkey", lit(3)) === 1))
    exp.equalityDelete(
      orders.filter(pmod($"o_orderkey", lit(6)) === 3).select($"o_orderkey"),
      Seq("o_orderkey"))
    // position delete: the coordinates of keys ≡ 6 (mod 12) — even
    // multiples of 6, in the first append, disjoint from the (odd)
    // equality-deleted multiples of 3
    val coords = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$loc/data")
      .withColumn("file_path", col("_metadata.file_path"))
      .withColumn("pos", col("_metadata.row_index"))
      .where(pmod($"o_orderkey", lit(12)) === 6)
      .select($"file_path", $"pos")
    exp.positionDelete(coords)
    val rdr = new IcebergTableReader(spark, loc)
    rdr.readChangesSince(rdr.snapshots.sortBy(_.sequence).head.id)
      .orderBy($"_commit_version", $"_change_type", $"o_orderkey")
  }

  def icebergRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.lake.{IcebergExport, IcebergTableReader}
    val loc = scratchDir("graft-iceberg-").toString
    val exp = new IcebergExport(spark, loc)
    val orders = Tables(spark, dir).orders
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    exp.append(orders.filter(pmod($"o_orderkey", lit(3)) === 0).repartition(2))
    exp.append(orders.filter(pmod($"o_orderkey", lit(3)) === 1).repartition(2))
    // equality delete: drop every key ≡ 3 (mod 6) — a strict subset of
    // the first snapshot's rows, exercising the seq<deleteSeq rule
    exp.equalityDelete(
      orders.filter(pmod($"o_orderkey", lit(6)) === 3).select($"o_orderkey"),
      Seq("o_orderkey"))
    new IcebergTableReader(spark, loc).read().orderBy($"o_orderkey")
  }

  /** Incremental binpack compaction: a well-sized base commit plus
    * trickle appends; `compactBinPack` folds ONLY the trickle dirs
    * (the base dir is asserted carried byte-identical), with a
    * merge-on-read delete in between proving delete semantics survive
    * the partial rewrite. Content is the closed-form union the oracle
    * recomputes.
    */
  def binPack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val customer = Tables(spark, dir).customer
    cat.write(customer.repartition(2), "bronze.c", WriteMode.Overwrite)
    val t = cat.table("bronze.c")
    val bigDir = t.latest.get.dirs.head
    // trickle: three tiny appends of derived rows (negated keys)
    for (nk <- Seq(0, 1, 2))
      t.write(customer.filter($"c_nationkey" === nk).select(
        (-$"c_custkey").as("c_custkey"), $"c_name", $"c_nationkey",
        lit(0.0).as("c_acctbal"), lit(s"TRICKLE$nk").as("c_mktsegment")),
        WriteMode.Append)
    LakeDml.delete(t, $"c_nationkey" >= 20, strategy = DmlStrategy.MergeOnRead)
    // threshold from the base dir's ACTUAL size (scale-factor-proof):
    // everything smaller folds, the base dir is carried
    val bigBytes = t.files().where($"dir" === bigDir)
      .agg(sum($"size_bytes")).head.getLong(0)
    val snap = t.compactBinPack(maxDirBytes = bigBytes - 1)
    require(snap.dirs.contains(bigDir) && snap.dirs.size == 2,
      s"binpack must carry the big dir and fold the trickle dirs, got ${snap.dirs.size}")
    cat.read("bronze.c").orderBy($"c_custkey")
  }

  /** Metadata inspection tables (Iceberg's `.files` / `.partitions` /
    * `.snapshots` parity): build an identity-partitioned table with
    * two single-task commits (deterministic 2 files per partition),
    * then report per-partition live file and row counts from the
    * `.partitions` metadata table. The oracle recomputes the same
    * numbers relationally from the raw data.
    */
  def metadataTables(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val customer = Tables(spark, dir).customer
    cat.write(customer.repartition(1), "bronze.cmeta", WriteMode.Overwrite,
      partitionBy = Seq("c_mktsegment"))
    cat.write(customer.repartition(1), "bronze.cmeta", WriteMode.Append)
    val t = cat.table("bronze.cmeta")
    require(t.snapshots.collect().map(_.getString(1)).toSeq == Seq("overwrite", "append"),
      "snapshots metadata table must list both commits")
    t.partitionsTable()
      .select(
        regexp_extract($"partition", "=(.*)$", 1).as("c_mktsegment"),
        $"n_files", $"n_rows")
      .orderBy($"c_mktsegment")
  }

  private val sqlCatalogCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The reference's headline Iceberg capability as ACTUAL SQL: MERGE
    * INTO, UPDATE and DELETE statements through a live DSv2 catalog
    * (`IcebergSparkSessionExtensions` + `SparkCatalog`,
    * /root/reference/dags/utils/constants/constant.py:43-50) — parsed
    * by Spark, routed onto the lake's copy-on-write commits by
    * [[graft.plans.LakeSqlRule]]. Catalog names are unique per call
    * because Spark caches catalog instances (and their warehouse) per
    * name.
    */
  def sqlMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wh = scratchDir("graft-lake-").toString
    val c = s"gsqlq${sqlCatalogCounter.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$c", classOf[graft.lake.sqlcat.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", wh)
    val cat = new LakeCatalog(spark, wh)
    val customer = Tables(spark, dir).customer
    // stats on the merge key + the UPDATE/DELETE predicate columns:
    // every Auto strategy decision below resolves from manifest blobs
    cat.write(customer, "silver.customer", WriteMode.Overwrite,
      statsBy = Seq("c_custkey", "c_mktsegment", "c_nationkey"))
    val updates = customer.filter($"c_nationkey" < 5)
      .withColumn("c_acctbal", $"c_acctbal" * 2)
    val inserts = Seq(
      (-1L, "NEW A", 0, 100.0, "BUILDING"),
      (-2L, "NEW B", 1, 200.0, "MACHINERY"),
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    updates.unionByName(inserts).createOrReplaceTempView("sql_merge_src")
    spark.sql(
      s"""MERGE INTO $c.silver.customer t USING sql_merge_src s
         |ON t.c_custkey = s.c_custkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql(
      s"""UPDATE $c.silver.customer
         |SET c_acctbal = -c_acctbal WHERE c_mktsegment = 'BUILDING'""".stripMargin)
    spark.sql(s"DELETE FROM $c.silver.customer WHERE c_nationkey >= 20")
    spark.sql(s"SELECT * FROM $c.silver.customer ORDER BY c_custkey")
  }

  /** Zero-copy shallow clone e2e ([[graft.lake.LakeTable.cloneTo]]):
    * build a source with a merge-on-read positional delete AND an
    * equality-delete upsert (both delete kinds live at the fork
    * point), clone it, then diverge BOTH sides — an append on the
    * source that must never surface in the clone, and an upsert on
    * the clone whose eq-delete sequence must outrank every preserved
    * dir sequence. The read is the clone's final state; the oracle
    * states it in closed form over the raw customer table. Scale
    * shape: the fork costs one manifest write plus a delete-file
    * rewrite bounded by deleted rows — cloning 100 TB moves no data.
    */
  def cloneTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val customer = Tables(spark, dir).customer
    cat.write(customer.repartition(4), "silver.customer", WriteMode.Overwrite)
    val src = cat.table("silver.customer")
    LakeDml.delete(src, $"c_nationkey" >= 20, strategy = DmlStrategy.MergeOnRead)
    src.upsert(customer.filter($"c_nationkey" < 5)
      .withColumn("c_acctbal", $"c_acctbal" + 1000.0)
      .withColumn("c_mktsegment", lit("UPSERT1")), Seq("c_custkey"))
    val srcV = src.latest.get.version

    val snap = cat.cloneTable("silver.customer", "silver.customer_fork")
    // the fork lands AT the source version (preserved commit sequences
    // stay below all future clone commits) and references the source's
    // data dirs externally — nothing was copied
    require(snap.version == srcV && snap.dirs.forall(graft.lake.LakeTable.externalDir),
      s"clone published v${snap.version} (want $srcV) dirs=${snap.dirs}")

    // diverge the SOURCE: this append must never surface in the clone
    src.write(customer.filter($"c_nationkey" === 10).select(
      (-$"c_custkey").as("c_custkey"), $"c_name", $"c_nationkey",
      $"c_acctbal", lit("SRCONLY").as("c_mktsegment")), WriteMode.Append)
    // diverge the CLONE: upsert overriding part of the UPSERT1 range
    val fork = cat.table("silver.customer_fork")
    fork.upsert(customer.filter($"c_nationkey".between(3, 6))
      .withColumn("c_acctbal", -$"c_acctbal")
      .withColumn("c_mktsegment", lit("UPSERT2")), Seq("c_custkey"))
    cat.read("silver.customer_fork").orderBy($"c_custkey")
  }

  /** Declared auto-compaction e2e ([[graft.lake.LakeTable.setAutoCompact]]):
    * trickle appends under the policy self-fold (asserted on the live
    * dir count + a compact commit in history) and the folded table
    * still answers exactly — the oracle is the plain union of every
    * appended slice. At 100 TB this is bounded small-file debt with
    * zero scheduler infrastructure.
    */
  def autoCompact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val orders = Tables(spark, dir).orders
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    cat.write(orders.where(pmod($"o_orderkey", lit(4)) === 0),
      "bronze.t", WriteMode.Overwrite)
    val t = cat.table("bronze.t")
    t.setAutoCompact(smallDirs = 3, maxDirBytes = 64L << 20)
    for (m <- 1 to 3)
      t.write(orders.where(pmod($"o_orderkey", lit(4)) === m), WriteMode.Append)
    val dirs = t.latest.get.dirs.size
    require(dirs < 4 && t.history.exists(_.op == "compact"),
      s"auto-compaction did not fold: $dirs dirs, ops=${t.history.map(_.op)}")
    cat.read("bronze.t").orderBy($"o_orderkey")
  }

  /** Incrementally-maintained JOIN view e2e ([[graft.lake.JoinView]]):
    * an orders⋈customer enrichment view built full once, then brought
    * up to date through ONE changelog-driven refresh covering a fact
    * append, a dim upsert (fan-out to every fact row holding the
    * key), and a fact-side merge-on-read delete — the refresh cost
    * tracks both changelogs plus the dim-triggered fact rows, never
    * the table sizes. The oracle restates the final enrichment in
    * closed form over the raw parquet.
    */
  def joinView(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.lake.JoinView
    val cat = freshCatalog(spark)
    val t = Tables(spark, dir)
    // independent tables → concurrent commits (guide §2.6)
    inParallel(
      cat.write(t.orders.select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .repartition(4), "silver.fact", WriteMode.Overwrite),
      cat.write(t.customer.select($"c_custkey", $"c_mktsegment"),
        "silver.dim", WriteMode.Overwrite))
    def refresh() = JoinView.refreshSql(cat, "silver.fact", "silver.dim",
      "gold.enriched", factKey = "o_orderkey", joinKey = "o_custkey",
      dimKey = "c_custkey", dimCols = Seq("c_mktsegment"))
    refresh() // full build

    // the two fact commits stay ordered; the dim upsert is independent
    // of both and overlaps them (guide §2.6)
    inParallel(
      {
        cat.table("silver.fact").write(t.orders.where($"o_orderkey" % 100 === 0 && $"o_orderkey" =!= 0)
          .select((-$"o_orderkey").as("o_orderkey"), $"o_custkey",
            ($"o_totalprice" + 1000.0).as("o_totalprice")), WriteMode.Append)
        LakeDml.delete(cat.table("silver.fact"),
          $"o_orderkey" % 97 === 0 && $"o_orderkey" > 0,
          strategy = DmlStrategy.MergeOnRead)
      },
      cat.table("silver.dim").upsert(t.customer.where($"c_nationkey" < 5)
        .select($"c_custkey", lit("SEGX").as("c_mktsegment")), Seq("c_custkey")))
    val snap = refresh()
    require(snap.meta.get(graft.lake.IncrementalView.RefreshModeKey)
        .contains("incremental"),
      s"join-view refresh fell back: ${snap.meta.get(graft.lake.IncrementalView.RefreshModeKey)}")
    JoinView.read(cat, "gold.enriched").orderBy($"o_orderkey")
  }

  /** UPDATE then DELETE as copy-on-write snapshots. */
  def updateDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    cat.write(Tables(spark, dir).customer, "silver.customer", WriteMode.Overwrite,
      statsBy = Seq("c_mktsegment", "c_nationkey"))
    val t = cat.table("silver.customer")
    LakeDml.update(t, col("c_mktsegment") === "BUILDING",
      Map("c_acctbal" -> -col("c_acctbal")))
    LakeDml.delete(t, col("c_nationkey") >= 20)
    cat.read("silver.customer").orderBy($"c_custkey")
  }

  /** Compaction: two commits (many small files) folded into one dir of
    * sized partitions; data identical, layout rewritten.
    */
  def compactRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val customer = Tables(spark, dir).customer
    cat.write(customer.repartition(8), "bronze.customer", WriteMode.Overwrite)
    cat.write(customer.repartition(8), "bronze.customer", WriteMode.Append)
    cat.table("bronze.customer").compact(targetPartitions = 2)
    cat.read("bronze.customer")
      .orderBy($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal", $"c_mktsegment")
  }

  /** Partitioned table write + partition-pruned read (the
    * `partitionedBy` capability the reference leaves unused —
    * SURVEY.md §4 "partition pruning").
    */
  def partitionedPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    cat.write(Tables(spark, dir).customer, "bronze.customer_part",
      WriteMode.Overwrite, partitionBy = Seq("c_mktsegment"))
    cat.read("bronze.customer_part")
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** Runtime-filtered star join: orders as a lake fact partitioned by
    * the hidden `bucket(8, o_custkey)` transform, joined to a
    * selectively filtered customer dim. [[graft.lake.RuntimeFilter]]
    * collects the dim's bounded key set and re-plans the fact scan
    * with a flat `In` the bucket transform projects to directory
    * pruning — dynamic partition pruning for lake sources, where
    * Spark's own DPP cannot see the table's metadata. The oracle
    * declares the plain join: pruning must never change the answer.
    */
  def runtimeFilterJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.SqlCompat.sumd
    val cat = freshCatalog(spark)
    val t = Tables(spark, dir)
    cat.write(t.orders, "bronze.orders_rf", WriteMode.Overwrite,
      partitionBy = Seq("bucket(8, o_custkey)"))
    val dim = t.customer
      .filter($"c_mktsegment" === "MACHINERY" && $"c_custkey" < 200)
      .select($"c_custkey")
    graft.lake.RuntimeFilter.prunedJoin(
      cat.table("bronze.orders_rf"), "o_custkey", dim, "c_custkey")
      .groupBy($"c_custkey")
      .agg(count(lit(1)).as("n_orders"), sumd($"o_totalprice").as("total_spend"))
      .orderBy($"c_custkey")
  }

  /** Full medallion pipeline E1–E3 over the events table through real
    * lake tables + watermark store; returns gold.
    */
  def pipelineGold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = freshCatalog(spark)
    val state = new WatermarkStore(scratchDir("graft-state-"))
    val m = new Medallion(spark, cat, state)
    m.run(Tables(spark, dir).events, tsCol = "ts", identityCols = Seq("event_type"))
      .orderBy($"event_type")
  }

  /** Cross-format federation: ONE Spark plan joins a graft lake table
    * (customer), a Delta table read by log replay (orders), an Iceberg
    * v2 table read from its own metadata (nation), and a JDBC
    * dimension (region in embedded Derby) — the "switch engines
    * without moving data" promise made concrete. Catalyst treats every
    * source as a relation: the two dimension sides broadcast, the
    * fact-side join shuffles once on the key, and each format's own
    * pruning (lake manifests, Delta add-stats, Iceberg manifests, JDBC
    * pushdown) still applies upstream of the join.
    */
  def federation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.lake.{DeltaExport, DeltaTableReader, IcebergExport, IcebergTableReader}
    import graft.sources.DerbyMem
    val t = Tables(spark, dir)
    val cat = freshCatalog(spark)
    cat.write(t.customer.select($"c_custkey", $"c_nationkey"),
      "fed.customer", WriteMode.Overwrite)
    val customer = cat.read("fed.customer")

    val dloc = scratchDir("graft-feddelta-").toString
    new DeltaExport(spark, dloc)
      .append(t.orders.select($"o_orderkey", $"o_custkey", $"o_totalprice"))
    val orders = new DeltaTableReader(spark, dloc).read()

    val iloc = scratchDir("graft-fedice-").toString
    new IcebergExport(spark, iloc)
      .append(t.nation.select($"n_nationkey", $"n_name", $"n_regionkey"))
    val nation = new IcebergTableReader(spark, iloc).read()

    val region = DerbyMem.withDb("fedr") { url =>
      t.region.select($"r_regionkey", $"r_name")
        .coalesce(1).write.format("jdbc")
        .option("url", url).option("dbtable", "APP.region")
        .option("driver", DerbyMem.driver).mode("overwrite").save()
      DerbyMem.materialize(spark.read.format("jdbc")
        .option("url", url).option("dbtable", "APP.region")
        .option("driver", DerbyMem.driver).load()
        .select(col("R_REGIONKEY").as("r_regionkey"), col("R_NAME").as("r_name")))
    }

    orders
      .join(customer, $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(count(lit(1)).as("n_orders"),
        graft.SqlCompat.sumd($"o_totalprice").as("revenue"))
      .orderBy($"r_name")
  }
}
