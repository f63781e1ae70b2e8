package graft.olist

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** D1–D3: model registry, DAG scheduling, and `--select` semantics.
  *
  * The reference wires models with `ref()` (reference:
  * models/marts/fct_orders.sql:2,6,14; resolver dbt/context/providers.py:679-697),
  * builds a DAG from the recorded edges (dbt/compilation.py:132,190) and runs
  * nodes in topological order (dbt/task/runnable.py:317). Here the registry is
  * typed Scala: a `Model` couples its name, dependency names, materialization
  * and a build function from resolved dependency DataFrames. `ref()` becomes
  * `Catalog.ref(name)` — a lookup that either reads the stored relation or
  * composes the lazy plan, exactly the view-vs-table split dbt configures in
  * dbt_project.yml:35-36.
  */
sealed trait Materialization
object Materialization {
  /** S3: query stored, re-expanded per reader — a lazy DataFrame. Catalyst
    * inlines it into every consumer, which is strictly more optimizable than
    * dbt's per-view relation boundary.
    */
  case object View extends Materialization

  /** S4: CTAS — persisted to the warehouse, readers scan the stored bytes. */
  case object Table extends Materialization

  /** S1: CSV -> stored table. */
  case object Seed extends Materialization

  /** S4 variant with Hive-style partitioning (dbt's partition_by model
    * config on warehouses that support it): readers filtering on the
    * partition columns prune whole partitions at planning time.
    */
  final case class PartitionedTable(partitionBy: Seq[String])
    extends Materialization

  /** dbt's `on_schema_change` config for incremental models
    * ([dbt]/include/global_project/macros/materializations/models/
    * incremental/on_schema_change.sql): what to do when the new batch's
    * schema drifts from the stored table's.
    */
  sealed trait OnSchemaChange
  object OnSchemaChange {
    /** dbt default: new batch columns are NOT added (dropped on write);
      * a batch missing a stored column errors, as the warehouse insert
      * would.
      */
    case object Ignore extends OnSchemaChange

    /** Any schema drift aborts the run (dbt's `fail`). */
    case object Fail extends OnSchemaChange

    /** New batch columns are added to the table (stored history reads NULL
      * for them); columns the batch dropped stay, NULL-filled in new rows.
      */
    case object AppendNewColumns extends OnSchemaChange

    /** Full sync: the table takes the batch's schema — new columns added
      * (history NULL-filled), departed columns removed, common columns cast
      * to the batch's types.
      */
    case object SyncAllColumns extends OnSchemaChange
  }

  /** dbt's incremental materialization with the merge strategy on a unique
    * key (available-but-unused in the reference — SURVEY §2.9): the first
    * run is a full build; later runs keep stored rows whose key is absent
    * from the new batch and replace the rest. At scale this rewrites only
    * the table, never rescans upstream history — the build function decides
    * what "new batch" means (typically a timestamp predicate).
    */
  final case class Incremental(uniqueKey: String,
      onSchemaChange: OnSchemaChange = OnSchemaChange.Ignore)
    extends Materialization

  /** dbt's incremental materialization with the insert_overwrite strategy:
    * the new batch fully REPLACES every partition it touches and leaves
    * all other partitions' stored rows untouched (no row-level merge, no
    * unique key — the strategy for append-only/partition-replay pipelines,
    * e.g. reprocessing one day of events). At scale this rewrites only the
    * affected partition directories: the untouched history is never read
    * or written.
    */
  final case class IncrementalByPartition(partitionCol: String,
      onSchemaChange: OnSchemaChange = OnSchemaChange.Ignore)
    extends Materialization

  /** dbt's snapshot (SCD type-2) materialization, timestamp strategy
    * (framework-available, unused by the reference — its snapshots/ holds
    * only .gitkeep; semantics per dbt's snapshot materialization: each key
    * keeps a version history with [valid_from, valid_to), valid_to IS NULL
    * marking the current version). A run closes the current version of any
    * key whose incoming `updatedAt` is newer and appends the new version;
    * unchanged keys are untouched. The build's result must be unique per
    * key (dbt's snapshot contract). All set logic is keyed joins — no
    * driver-side diffing — so a snapshot over a 100 TB source is three
    * shuffles on the unique key.
    */
  /** dbt's snapshot `hard_deletes` config (dbt 1.9 — supersedes the older
    * `invalidate_hard_deletes` boolean): what happens when a key PRESENT
    * in the stored current set is ABSENT from the incoming batch.
    *   - Ignore (dbt default): absent keys are untouched.
    *   - Invalidate: the key's current version closes at the run's
    *     timestamp — the SCD2 record of a source-row deletion.
    *   - NewRecord: the current version closes AND a tombstone row is
    *     appended (same payload, valid from the run's timestamp, open,
    *     `dbt_is_deleted = true`; all live rows carry `false`) — so
    *     "key X is currently deleted" is queryable without a NOT EXISTS
    *     against the current set. A NewRecord snapshot adds the
    *     dbt_is_deleted column from its FIRST run; switching an existing
    *     flag-less table to NewRecord fails loudly on the union.
    */
  sealed trait HardDeletes
  object HardDeletes {
    case object Ignore extends HardDeletes
    case object Invalidate extends HardDeletes
    case object NewRecord extends HardDeletes
  }

  final case class Snapshot(uniqueKey: String,
                            updatedAt: String,
                            hardDeletes: HardDeletes = HardDeletes.Ignore,
                            snapshotAt: () => java.sql.Timestamp =
                              () => new java.sql.Timestamp(
                                System.currentTimeMillis()))
    extends Materialization {
    // stable config text for state:modified (see SnapshotCheck)
    override def toString: String =
      s"Snapshot($uniqueKey,$updatedAt,$hardDeletes)"
  }

  /** dbt's snapshot CHECK strategy ([dbt]/include/global_project/macros/
    * materializations/snapshots/strategies.sql:142,
    * snapshot_check_strategy) — for sources WITHOUT a reliable
    * `updated_at`: a key's row "changed" iff any of `checkCols` differs
    * (null-safely, dbt's column_changed_expression) between the incoming
    * row and the key's current stored version; `checkCols = Nil` mirrors
    * `check_cols: all` (every column of the build's output participates).
    * valid_from/valid_to come from the RUN's timestamp (dbt's
    * snapshotted_at), injectable via `snapshotAt` for deterministic
    * tests/backfills. Same keyed-join plan shape as the timestamp
    * strategy — three shuffles on the unique key, no driver-side diffing.
    */
  final case class SnapshotCheck(uniqueKey: String,
      checkCols: Seq[String] = Nil,
      snapshotAt: () => java.sql.Timestamp =
        () => new java.sql.Timestamp(System.currentTimeMillis()),
      hardDeletes: HardDeletes = HardDeletes.Ignore)
    extends Materialization {
    // stable config text for the state:modified fingerprint — the default
    // toString would render the snapshotAt lambda's per-JVM object identity
    // and permanently mark every snapshot-check model "modified"
    override def toString: String =
      s"SnapshotCheck($uniqueKey,${checkCols.mkString("[", ",", "]")}," +
        s"$hardDeletes)"
  }
}

/** `preHooks`/`postHooks` mirror dbt's model-level pre-/post-hook config
  * (run before/after the node materializes, in declaration order; dbt's
  * hooks are SQL statements against the warehouse — here any effect over
  * the session, e.g. `s => s.sql("...")`).
  *
  * `fullRefresh` mirrors dbt's model-level `full_refresh` config
  * ([dbt]/include/global_project/macros/materializations/configs.sql:6,
  * should_full_refresh): None defers to the run's `--full-refresh` flag;
  * Some(false) PINS the model incremental even under the flag (dbt's
  * guard for enormous tables a blanket CI flag must not rebuild);
  * Some(true) rebuilds from scratch on every run.
  */
final case class Model(
    name: String,
    deps: Seq[String],
    materialized: Materialization,
    build: Map[String, DataFrame] => DataFrame,
    tags: Set[String] = Set.empty,
    preHooks: Seq[SparkSession => Unit] = Nil,
    postHooks: Seq[SparkSession => Unit] = Nil,
    fullRefresh: Option[Boolean] = None,
    contract: Option[org.apache.spark.sql.types.StructType] = None)

/** Consumer-side readers for SCD2 snapshot tables (the query layer dbt
  * leaves to the analyst: "what did this table look like on date X?").
  * Both are single map-side filters — no join against a calendar, no
  * window — so they compose with any downstream plan and prune like any
  * other predicate.
  */
object Snapshots {
  import org.apache.spark.sql.functions.{col, lit}

  private def dropTombstones(df: DataFrame, includeDeleted: Boolean) =
    if (includeDeleted || !df.columns.contains("dbt_is_deleted")) df
    else df.filter(!col("dbt_is_deleted"))

  /** The table as of `ts`: each key's version whose [valid_from,
    * valid_to) interval contains ts (none for keys not yet born or
    * invalidated before ts). Tombstone rows (hard_deletes=new_record)
    * are excluded unless asked for — "deleted as of ts" is a real state,
    * but most consumers want the live rows.
    */
  def asOf(snapshot: DataFrame, ts: java.sql.Timestamp,
           includeDeleted: Boolean = false): DataFrame =
    dropTombstones(
      snapshot.filter(col("valid_from") <= lit(ts) &&
        (col("valid_to").isNull || col("valid_to") > lit(ts))),
      includeDeleted)

  /** The current live state: open versions, tombstones excluded unless
    * asked for.
    */
  def current(snapshot: DataFrame,
              includeDeleted: Boolean = false): DataFrame =
    dropTombstones(snapshot.filter(col("valid_to").isNull), includeDeleted)

  /** What changed between two moments — the audit question an SCD2 table
    * exists to answer, as one relation: (key, change) for every key
    * added, removed, or changed between the `t1` state and the `t2`
    * state, via the engine's CDC diff over the two as-of reads. Cost is
    * two map-side validity filters + the slim (key, md5) full-outer join
    * — no history scan beyond the snapshot itself.
    */
  def changedBetween(snapshot: DataFrame, key: String,
                     compareCols: Seq[String],
                     t1: java.sql.Timestamp,
                     t2: java.sql.Timestamp): DataFrame =
    graft.operators.Analytics.tableDiff(
      asOf(snapshot, t1), asOf(snapshot, t2), key, compareCols)
}

/** dbt exposure (`exposures:` YAML, [dbt]/contracts/graph/nodes.py
  * Exposure; the reference's real-world instance is its two Power BI
  * dashboards — `dashboard_final.jpg` / `dashboard_sp_analysis.jpg` read
  * from the fct_orders mart): a DOWNSTREAM consumer declared in the
  * graph so lineage is visible and `+exposure:<name>` can rebuild
  * exactly what a dashboard needs. Exposures are leaf nodes — nothing
  * materializes for them; they contribute dependency edges and manifest
  * entries only.
  */
final case class Exposure(
    name: String,
    exposureType: String, // dashboard | notebook | analysis | ml | application
    owner: String,
    dependsOn: Seq[String],
    url: Option[String] = None,
    maturity: String = "low")

/** dbt model contracts (`contract: enforced: true` + a full `columns:`
  * spec): the built relation's schema must match the declared one — same
  * column SET, same data types — or the node fails BEFORE anything is
  * written ([dbt]/adapters/base/impl.py render_columns + the
  * assert_columns_equivalent check dbt runs ahead of the DDL). Contracts
  * exist so a producer can promise a stable public schema to downstream
  * consumers; a refactor that drops/retypes a column must fail the
  * producer's build, not the consumers' reads three DAGs later. The check
  * is pure plan analysis (schema only, order-insensitive like dbt's) — no
  * job runs, so a violating 100 TB model costs nothing to reject.
  */
object Contracts {
  final class Violation(msg: String) extends RuntimeException(msg)

  def enforce(name: String,
              actual: org.apache.spark.sql.types.StructType,
              declared: org.apache.spark.sql.types.StructType): Unit = {
    val a = actual.fields.map(f => f.name -> f.dataType).toMap
    val d = declared.fields.map(f => f.name -> f.dataType).toMap
    val missing = d.keySet -- a.keySet
    val extra = a.keySet -- d.keySet
    val retyped = (d.keySet & a.keySet).filter(k => a(k) != d(k))
      .map(k => s"$k: declared ${d(k).simpleString}, built ${a(k).simpleString}")
    if (missing.nonEmpty || extra.nonEmpty || retyped.nonEmpty)
      throw new Violation(
        s"model $name violates its contract — " +
          s"missing: ${missing.toSeq.sorted.mkString(",")} " +
          s"unexpected: ${extra.toSeq.sorted.mkString(",")} " +
          s"retyped: ${retyped.toSeq.sorted.mkString("; ")}")
  }
}

/** S4 sink + S2 scan contract: where materialized relations live. Two
  * implementations — a parquet-directory store (Warehouse) and the Spark
  * session catalog (SessionCatalogWarehouse, the literal `saveAsTable`
  * mapping of SURVEY §2 S4). The pipeline is store-agnostic.
  */
trait TableStore {
  def location: String
  def save(name: String, df: DataFrame): Unit

  /** Hive-style partitioned write: one directory (or catalog partition)
    * per distinct value combination, so readers filtering on the partition
    * columns scan only matching partitions (partition pruning — the
    * cheapest possible predicate pushdown at 100 TB). Choose columns of
    * bounded cardinality; per-value file counts follow the upstream
    * partitioning.
    */
  def savePartitioned(name: String, df: DataFrame,
                      partitionBy: Seq[String]): Unit
  def load(name: String): DataFrame
  def exists(name: String): Boolean

  /** Replace a table with a plan that may READ the same table (the
    * self-referential merge of incremental/snapshot builds). Implementations
    * must fully materialize the new data before unlinking the old.
    * `partitionBy` preserves a partitioned table's layout across the swap.
    */
  def replace(name: String, df: DataFrame,
              partitionBy: Seq[String] = Nil): Unit
}

/** S4 sink + S2 scan: a directory of parquet tables standing in for the
  * warehouse. Writes are distributed (no coalesce — the writer parallelism is
  * the upstream partitioning; at cluster scale that is the whole point of the
  * sink).
  *
  * All filesystem operations go through the Hadoop FileSystem API resolved
  * from the warehouse URI, so the same code runs against file://, hdfs://,
  * or an s3a:// bucket — never java.io.File, which silently only works on a
  * local disk. On stores whose rename is a copy (raw object stores), swap
  * latency grows with table size; the directory-swap protocol below is still
  * correct because a valid table directory exists at every step.
  */
final class Warehouse(spark: SparkSession, val dir: String) extends TableStore {
  import org.apache.hadoop.fs.Path

  def location: String = dir

  private def path(name: String) = new Path(dir, name)
  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def save(name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(path(name).toString)
  def savePartitioned(name: String, df: DataFrame,
                      partitionBy: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionBy: _*)
      .parquet(path(name).toString)
  /** Read through [[graft.Tables.parquet]]: the relation is resolved
    * once per session, keyed by the conf and the table dir's file
    * listing, so a `save`/`replace` (new part files) re-resolves and the
    * first load after each write still runs the inference job. Each load
    * has fresh attribute ids.
    */
  def load(name: String): DataFrame =
    graft.Tables.parquet(spark, path(name).toString)
  def exists(name: String): Boolean = {
    val p = path(name)
    fs(p).exists(p)
  }

  /** Replace a table with a plan that READS the same table: write to a
    * scratch location first, then swap directories. Overwriting a parquet
    * path while a lazy plan still scans it corrupts the read — the classic
    * self-referential merge trap.
    *
    * Swap order is crash-safe: the new data is fully written to `__tmp`,
    * the live directory is renamed ASIDE to `__old` (not deleted), the tmp
    * renamed into place, and only then is the old copy dropped. A crash at
    * any step leaves a complete copy of the table on disk (under its name
    * or under `__old`), unlike delete-then-rename which has a window with
    * no table at all.
    */
  def replace(name: String, df: DataFrame,
              partitionBy: Seq[String] = Nil): Unit = {
    val target = path(name)
    val f = fs(target)
    val tmp = new Path(dir, s"${name}__tmp")
    val old = new Path(dir, s"${name}__old")
    df.write.mode("overwrite").partitionBy(partitionBy: _*)
      .parquet(tmp.toString)
    if (f.exists(old)) f.delete(old, true)
    if (f.exists(target) && !f.rename(target, old))
      throw new java.io.IOException(s"could not stage old copy of $name")
    if (!f.rename(tmp, target)) {
      if (f.exists(old)) f.rename(old, target) // restore the previous table
      throw new java.io.IOException(s"swap failed for $name")
    }
    if (f.exists(old)) f.delete(old, true)
  }

  /** Small-file compaction — the OPTIMIZE every long-lived parquet
    * warehouse needs: incremental/streaming appends and high-parallelism
    * writes leave hundreds of KB-sized files per table, and at 100 TB the
    * scan cost becomes footer-and-task overhead instead of IO (each file
    * is a task + a footer read + an object-store request). Rewrites the
    * stored bytes into ceil(storedBytes / targetFileBytes) output files
    * via the crash-safe replace() swap — readers never observe a partial
    * table.
    *
    * Partitioned tables repartition BY the partition columns, so each
    * hive-partition directory consolidates to ~one file per value (a task
    * holds whole partition values); unpartitioned tables use a plain
    * round-robin repartition. Returns the output file count.
    */
  def compact(name: String, targetFileBytes: Long = 128L << 20,
              partitionBy: Seq[String] = Nil): Int = {
    require(targetFileBytes > 0)
    val p = path(name)
    val bytes = fs(p).getContentSummary(p).getLength
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val df = load(name)
    val repartitioned =
      if (partitionBy.nonEmpty)
        df.repartition(n, partitionBy.map(org.apache.spark.sql.functions.col): _*)
      else df.repartition(n)
    replace(name, repartitioned, partitionBy)
    n
  }

  /** Garbage-collect swap leftovers: `__tmp` (an interrupted write) and
    * `__old` (a superseded copy staged aside) directories that a crash
    * mid-`replace` can strand. Safe to run at ANY time, concurrent with
    * readers: the swap protocol guarantees neither suffix is ever the
    * live table directory, so vacuum only ever deletes bytes no current
    * plan can be scanning. Returns the removed paths (dbt has no direct
    * analog — warehouses GC internally; a file-warehouse must own it).
    */
  def vacuum(): Seq[String] = {
    val d = new Path(dir)
    val f = fs(d)
    if (!f.exists(d)) return Nil
    f.listStatus(d).toSeq
      .filter(s => s.isDirectory && (s.getPath.getName.endsWith("__tmp") ||
        s.getPath.getName.endsWith("__old")))
      .map { s => f.delete(s.getPath, true); s.getPath.toString }
  }

  /** Data files currently backing a stored table (for compaction
    * accounting and specs): everything under the table directory except
    * checksums/_SUCCESS markers.
    */
  def dataFiles(name: String): Seq[String] = {
    val p = path(name)
    val it = fs(p).listFiles(p, true)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (f.isFile && !n.startsWith("_") && !n.startsWith(".") &&
        !n.endsWith(".crc")) out += f.getPath.toString
    }
    out.toSeq
  }
}

/** S4's literal mapping: `CREATE OR REPLACE TABLE ... AS` becomes
  * `df.write.saveAsTable` into the Spark session catalog (reference:
  * dbt/include/snowflake/macros/relations/table/create.sql:95). Readers use
  * `spark.table`, so materialized models are visible to any SQL client of
  * the session/metastore, and table formats/locations are whatever the
  * catalog is configured with (Hive metastore, Unity-style catalogs, ...).
  *
  * The self-referential replace writes a scratch TABLE first (Spark refuses
  * to overwrite a table its own plan reads), drops the target, then renames
  * the scratch into place — each step is a single metastore operation.
  */
final class SessionCatalogWarehouse(spark: SparkSession) extends TableStore {
  def location: String = "spark_catalog (session)"
  private def sane(name: String): String = {
    require(name.matches("[A-Za-z0-9_]+"), s"unsafe table name: $name")
    name
  }
  def save(name: String, df: DataFrame): Unit = {
    if (!exists(name)) dropOrphanLocation(name)
    df.write.mode("overwrite").saveAsTable(sane(name))
  }
  def savePartitioned(name: String, df: DataFrame,
                      partitionBy: Seq[String]): Unit = {
    if (!exists(name)) dropOrphanLocation(name)
    df.write.mode("overwrite").partitionBy(partitionBy: _*)
      .saveAsTable(sane(name))
  }
  def load(name: String): DataFrame = spark.table(sane(name))
  def exists(name: String): Boolean = spark.catalog.tableExists(sane(name))
  /** Crash-safe swap, mirroring the parquet Warehouse's rename-aside
    * protocol: the new data is fully written to `__tmp`, the live table is
    * renamed ASIDE to `__old` (never dropped first), the tmp renamed into
    * place, and only then is the old copy dropped — restoring `__old` if
    * the final rename fails. A crash at any step leaves a complete copy of
    * the table in the catalog (under its name or under `__old`), unlike
    * drop-then-rename which has a window with no table at all.
    *
    * The guarantee is RECOVERABILITY, not concurrent-reader atomicity: a
    * query resolving `name` between the two renames fails with
    * table-not-found (there is no multi-statement catalog transaction to
    * close that window). Readers that must never observe the gap should
    * resolve through a view layer or retry on resolution failure.
    */
  def replace(name: String, df: DataFrame,
              partitionBy: Seq[String] = Nil): Unit = {
    val n = sane(name)
    val (tmp, old) = (s"${n}__tmp", s"${n}__old")
    if (!exists(tmp)) dropOrphanLocation(tmp)
    df.write.mode("overwrite").partitionBy(partitionBy: _*).saveAsTable(tmp)
    spark.sql(s"DROP TABLE IF EXISTS $old")
    if (!exists(old)) dropOrphanLocation(old)
    if (exists(n)) spark.sql(s"ALTER TABLE $n RENAME TO $old")
    try spark.sql(s"ALTER TABLE $tmp RENAME TO $n")
    catch {
      case e: Throwable =>
        if (exists(old)) spark.sql(s"ALTER TABLE $old RENAME TO $n")
        throw e
    }
    spark.sql(s"DROP TABLE IF EXISTS $old")
  }

  /** Bucketed CTAS — the co-location contract only a CATALOG table can
    * carry (plain parquet directories have nowhere to record the hash
    * function, which is why this lives here and not on the TableStore
    * trait): rows are hash-distributed into `nBuckets` files per the
    * bucket columns, optionally sorted within each bucket. Two tables
    * bucketed on their join key with the same bucket count join with NO
    * Exchange on either side — at 100 TB that converts every
    * fact-to-fact equi-join on the bucket key from a full-corpus shuffle
    * into a per-bucket local merge, and aggregations keyed by the bucket
    * columns skip their exchange the same way (asserted in
    * BucketedTableSpec). Choose nBuckets for the LARGEST consumer: all
    * co-located tables must agree on it.
    */
  def saveBucketed(name: String, df: DataFrame, bucketCols: Seq[String],
                   nBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty && nBuckets > 0)
    if (!exists(name)) dropOrphanLocation(name)
    val w = df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(sane(name))
  }

  /** ANALYZE TABLE ... COMPUTE STATISTICS — the catalog-statistics pass a
    * long-lived warehouse runs after materializing big tables. Table-level
    * stats (sizeInBytes, rowCount) replace Spark's file-size guess in
    * every join-strategy decision (a table whose compressed footprint
    * belies its decompressed width stops being mis-broadcast), and the
    * optional column-level pass (`forColumns`) feeds distinct counts /
    * min/max/null counts to the cost-based optimizer for join reordering
    * — which is exactly the information a 6-join mart query needs at
    * 100 TB, where a wrong join order is a 100× shuffle. Stats are
    * metadata-only: one scan to compute, no data rewritten.
    */
  def analyze(name: String, forColumns: Seq[String] = Nil): Unit = {
    val t = sane(name)
    if (forColumns.nonEmpty) {
      forColumns.foreach(c => require(c.matches("[A-Za-z0-9_]+"),
        s"unsafe column name: $c"))
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS " +
        forColumns.mkString(", "))
    } else spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS")
  }

  /** The catalog's recorded statistics for a stored table (None until
    * analyze() runs): (sizeInBytes, rowCount if computed).
    */
  def stats(name: String): Option[(BigInt, Option[BigInt])] =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(sane(name)))
      .stats.map(s => (s.sizeInBytes, s.rowCount))

  /** A crashed or restarted session can leave a managed-table LOCATION on
    * disk that the (restarted, in-memory) catalog no longer knows about;
    * saveAsTable refuses to create over it. Clearing the stale default-db
    * location when no catalog entry exists makes save() self-healing —
    * the same role the parquet Warehouse's overwrite mode plays.
    */
  private def dropOrphanLocation(name: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), sane(name).toLowerCase)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}

/** The state dbt persists to `target/manifest.json` that `--select
  * state:modified --state <dir>` diffs against ([dbt]/task/runnable.py:90,
  * 167; graph/selector_methods.py StateSelectorMethod): one content
  * fingerprint per model. Stored as sorted `name<TAB>hash` lines — no JSON
  * machinery needed for a two-column table.
  */
final case class Manifest(fingerprints: Map[String, String]) {
  def write(path: String): Unit = {
    val body = fingerprints.toSeq.sorted
      .map { case (n, h) => s"$n\t$h" }.mkString("", "\n", "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}
object Manifest {
  def read(path: String): Manifest = Manifest(
    scala.io.Source.fromFile(path).getLines().filter(_.nonEmpty).map { l =>
      val Array(n, h) = l.split("\t", 2)
      n -> h
    }.toMap)
}

/** `onRunStart`/`onRunEnd` mirror dbt's project-level on-run-start /
  * on-run-end hooks: start hooks fire once before any node of a `run`,
  * end hooks fire once after the invocation — success or failure, like
  * dbt's — receiving the attempted topological order (dbt's `results`
  * context analog).
  *
  * `defer` mirrors dbt's `--defer`: when a stored upstream relation is
  * absent from THIS catalog's warehouse, `ref()` falls back to the deferred
  * store (dbt resolves unbuilt, unselected upstreams from the `--state`
  * environment's namespace — the CI pattern of building only changed models
  * in a scratch schema while reading everything else from prod).
  */
final class Catalog(
    val spark: SparkSession,
    val warehouse: TableStore,
    models: Seq[Model],
    onRunStart: Seq[SparkSession => Unit] = Nil,
    onRunEnd: Seq[(SparkSession, Seq[String]) => Unit] = Nil,
    defer: Option[TableStore] = None,
    val exposures: Seq[Exposure] = Nil) {

  private val byName: Map[String, Model] = models.map(m => m.name -> m).toMap

  private val exposureByName: Map[String, Exposure] =
    exposures.map(e => e.name -> e).toMap

  // dbt parity: an exposure depending on an unknown node is a parse-time
  // "depends on a node which was not found" error, not a run-time one
  exposures.foreach(e => e.dependsOn.foreach(d =>
    if (!byName.contains(d)) throw new NoSuchElementException(
      s"exposure '${e.name}' depends on unregistered model '$d'")))

  def exposure(name: String): Exposure = exposureByName.getOrElse(name,
    throw new NoSuchElementException(
      s"selector resolves to no registered exposure '$name'"))

  def model(name: String): Model = byName.getOrElse(name,
    throw new NoSuchElementException(
      s"ref('$name') resolves to no registered model — the dbt analog is a " +
        "compile-time 'depends on a node which was not found' error"))

  /** S2: `ref(name)` — the dependency's DataFrame. Tables and seeds read the
    * stored relation; views re-expand lazily (so a consumer's filters push
    * all the way down into the seed scans).
    */
  def ref(name: String): DataFrame = {
    val m = model(name)
    m.materialized match {
      case Materialization.View => builtFor(m)
      case _ =>
        if (warehouse.exists(name)) warehouse.load(name)
        else defer.filter(_.exists(name)).map(_.load(name)).getOrElse {
          throw new IllegalStateException(
            s"relation '$name' not found in warehouse ${warehouse.location}" +
              defer.map(d => s" or deferred store ${d.location}").getOrElse("") +
              " — run it (or seed) first, like dbt's Database Error on a " +
              "missing upstream relation")
        }
    }
  }

  private def resolveDeps(m: Model): Map[String, DataFrame] =
    m.deps.map(d => d -> ref(d)).toMap

  /** dbt's `source freshness` task ([dbt]/task/freshness.py +
    * [dbt]/include/global_project/macros/adapters/freshness.sql
    * collect_freshness: `select max(loaded_at_field) from source`):
    * measure the staleness of a source relation as
    * `age = now - max(loadedAtCol)` and grade it against the source's
    * `warn_after` / `error_after` windows. Returns the same
    * Pass/Warn(n)/Error(n) ADT as the test harness with n = AGE IN
    * SECONDS (dbt's FreshnessStatus carries the age the same way; error
    * wins when both windows are exceeded). An EMPTY source — max is NULL
    * — grades Error(Long.MaxValue): dbt raises there, but a scheduler
    * polling freshness wants a status, not an exception. The whole check
    * is one distributed max aggregate — a column-pruned scan at any
    * scale, no driver-side data movement beyond the single max row.
    *
    * `now` is injectable for deterministic tests/backfills, like
    * SnapshotCheck's `snapshotAt`.
    */
  def sourceFreshness(name: String, loadedAtCol: String,
      warnAfter: java.time.Duration, errorAfter: java.time.Duration,
      now: () => java.sql.Timestamp =
        () => new java.sql.Timestamp(System.currentTimeMillis())):
      graft.checks.Checks.TestResult = {
    import graft.checks.Checks
    val maxRow = ref(name)
      .agg(org.apache.spark.sql.functions.max(col(loadedAtCol))).head()
    if (maxRow.isNullAt(0)) Checks.Error(Long.MaxValue)
    else {
      val maxLoaded = maxRow.getTimestamp(0)
      val ageSec = (now().getTime - maxLoaded.getTime) / 1000L
      if (ageSec > errorAfter.getSeconds) Checks.Error(ageSec)
      else if (ageSec > warnAfter.getSeconds) Checks.Warn(ageSec)
      else Checks.Pass()
    }
  }

  // --- state:modified fingerprints ---------------------------------------

  /** Output schema of a model's transform, derived purely by plan
    * composition (no execution, no warehouse): deps are empty relations of
    * their own recursively-derived schemas. Memoized — a diamond DAG would
    * otherwise recompute shared ancestors exponentially.
    */
  private val schemaMemo =
    scala.collection.mutable.Map[String, org.apache.spark.sql.types.StructType]()
  private def planSchema(name: String): org.apache.spark.sql.types.StructType =
    schemaMemo.getOrElseUpdate(name,
      model(name).build(placeholderDeps(model(name))).schema)

  /** Schema-only stand-ins for a model's deps: empty local relations with
    * the dep's derived schema, aliased to the dep's name so which dep a
    * column comes from is part of the plan text.
    */
  private def placeholderDeps(m: Model): Map[String, DataFrame] =
    m.deps.map { d =>
      d -> spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), planSchema(d))
        .as(d)
    }.toMap

  /** The model's content fingerprint — the analog of the checksum dbt
    * stores per node in manifest.json and diffs for `state:modified`
    * ([dbt]/graph/selector_methods.py, `recursively_check_macros` aside:
    * dbt hashes raw SQL + config; a compiled Scala transform has no raw
    * text, so the hashable "definition" is the ANALYZED LOGICAL PLAN of the
    * build applied to schema-only placeholder deps). Because deps enter as
    * placeholders, the fingerprint covers exactly this node's own logic +
    * config (materialization, deps, tags) + its upstreams' SCHEMAS — an
    * upstream logic change that keeps its schema does NOT mark descendants
    * modified, same as dbt; an upstream schema change does (dbt needs
    * `state:modified+` to catch the fallout — here it is part of the
    * definition, since column resolution is). ExprIds are minted fresh per
    * JVM, so they are normalized out of the plan text before hashing.
    */
  def fingerprint(name: String): String = {
    val m = model(name)
    val plan = m.build(placeholderDeps(m)).queryExecution.analyzed
    val text = plan.toString.replaceAll("#\\d+", "#")
    val config = s"${m.materialized}|${m.deps.mkString(",")}|" +
      s"${m.tags.toSeq.sorted.mkString(",")}|${m.fullRefresh}"
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest((config + "\n" + text).getBytes("UTF-8"))
    digest.map("%02x".format(_)).mkString
  }

  /** Current-state manifest over every registered model (dbt writes
    * target/manifest.json on each invocation; call this after a successful
    * run and point the next run's `state` at it).
    */
  def manifest(): Manifest =
    Manifest(byName.keys.map(n => n -> fingerprint(n)).toMap)

  /** Column-level lineage of one model: each output column to the sorted
    * `dep.column` roots that can influence it. Like `fingerprint`, the
    * plan is built over schema-only placeholder deps (aliased with the
    * dep's name — that alias is what roots the walk), so lineage is ONE
    * HOP through the model graph; chase transitively by recursing over
    * `model(dep).deps`. Structural only: no execution, no warehouse
    * access.
    */
  def columnLineage(name: String): Map[String, Seq[String]] = {
    val m = model(name)
    Lineage.columnLineage(
      m.build(placeholderDeps(m)).queryExecution.analyzed)
  }

  /** Reachable-node collection for one direction pair, each direction
    * bounded to a graph depth (Int.MaxValue = unlimited; 0 = none) —
    * dbt's `n+`/`+n` degree syntax ([dbt]/graph/selector_spec.py,
    * SELECTOR_GLOB's `max_depth`). A node reachable along both
    * directions keeps the LARGER remaining budget per direction, so a
    * diamond cannot truncate a longer path discovered later.
    */
  private def reach(names: Seq[String], upDepth: Int,
                    downDepth: Int): Set[String] = {
    lazy val dependents: Map[String, Seq[String]] = byName.values.toSeq
      .flatMap(m => m.deps.map(_ -> m.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val bestUp = scala.collection.mutable.Map[String, Int]()
    val bestDown = scala.collection.mutable.Map[String, Int]()
    def visitUp(n: String, budget: Int): Unit =
      if (bestUp.getOrElse(n, -1) < budget) {
        bestUp(n) = budget
        if (budget > 0) model(n).deps
          .foreach(visitUp(_, if (budget == Int.MaxValue) budget
            else budget - 1))
      }
    def visitDown(n: String, budget: Int): Unit =
      if (bestDown.getOrElse(n, -1) < budget) {
        bestDown(n) = budget
        if (budget > 0) dependents.getOrElse(n, Nil)
          .foreach(visitDown(_, if (budget == Int.MaxValue) budget
            else budget - 1))
      }
    names.foreach { n => visitUp(n, upDepth); visitDown(n, downDepth) }
    bestUp.keySet.toSet ++ bestDown.keySet
  }

  /** Expand one dbt-style node selector (dbt's node-selection syntax,
    * [dbt]/graph/selector_spec.py): a model name, `tag:<t>` (every model
    * carrying the tag), with optional `+` affixes — `+sel` adds ancestors,
    * `sel+` adds descendants, `+sel+` both; a DEGREE bounds either side
    * (`2+sel` = two generations of parents, `sel+1` = direct children
    * only, dbt's max_depth syntax). A comma is dbt's set INTERSECTION
    * (`tag:a,tag:b` = models carrying both tags; each operand keeps its
    * own affixes), while separate selectors in the list union. The
    * method-wide upstream/downstream flags OR with the per-selector
    * affixes, so `run(Seq("+fct_orders"))` and `run(Seq("fct_orders"),
    * withUpstream = true)` select identically.
    */
  private def expandSelector(sel: String, withUpstream: Boolean,
                             withDownstream: Boolean,
                             state: Option[Manifest] = None): Set[String] = {
    if (sel.contains(","))
      return sel.split(",").map(s =>
        expandSelector(s, withUpstream, withDownstream, state))
        .reduce(_ intersect _)
    if (sel.startsWith("@")) {
      // dbt's at-operator ([dbt]/graph/selector_spec.py): the node, all
      // its descendants, AND the full ancestry of those descendants —
      // "everything needed to build what depends on this", the CI shape
      // for rebuilding a changed shared model plus consumers whose OTHER
      // parents must exist too.
      val down = expandSelector(sel.stripPrefix("@") + "+",
        withUpstream = false, withDownstream = false, state)
      return reach(down.toSeq, Int.MaxValue, 0)
    }
    val upAffix = "^(\\d*)\\+".r.findFirstMatchIn(sel)
    val downAffix = "\\+(\\d*)$".r.findFirstMatchIn(sel)
    def depth(m: Option[scala.util.matching.Regex.Match],
              flag: Boolean): Int = {
      val affix = m.map(g => if (g.group(1).isEmpty) Int.MaxValue
        else g.group(1).toInt).getOrElse(0)
      math.max(affix, if (flag) Int.MaxValue else 0)
    }
    val up = depth(upAffix, withUpstream)
    val down = depth(downAffix, withDownstream)
    val core = sel.replaceFirst("^(\\d*)\\+", "")
      .replaceFirst("\\+(\\d*)$", "")
    val bases =
      if (core.startsWith("tag:")) {
        val t = core.stripPrefix("tag:")
        val matched = byName.values.filter(_.tags.contains(t))
          .map(_.name).toSeq.sorted
        // dbt parity: an unmatched tag is an empty selection, not an
        // error — but silence would hide a renamed/typoed tag from a CI
        // pipeline, so say so (dbt's "Nothing to do" warning)
        if (matched.isEmpty)
          Console.err.println(
            s"warning: selector 'tag:$t' matches no models (nothing to do)")
        matched
      } else if (core.startsWith("exposure:")) {
        // dbt's exposure method ([dbt]/graph/selector_methods.py
        // ExposureSelectorMethod). The exposure node itself is not
        // runnable, so the core selects its DIRECT parents ("build what
        // the dashboard reads"); the `+` affix / upstream flag then adds
        // full ancestry — making `+exposure:x` select the same runnable
        // set dbt's does.
        exposure(core.stripPrefix("exposure:")).dependsOn
      } else if (core == "state:modified" || core == "state:new") {
        // dbt's state method ([dbt]/graph/selector_methods.py): `new` =
        // absent from the old manifest; `modified` = new OR fingerprint
        // drift. Requires a previous state, like dbt's "--state" error.
        val old = state.getOrElse(throw new IllegalArgumentException(
          s"selector '$core' requires a previous-state manifest " +
            "(dbt: 'Got a state selector method, but no comparison manifest')"))
        byName.keys.toSeq.sorted.filter { n =>
          old.fingerprints.get(n) match {
            case None => true
            case Some(h) => core == "state:modified" && fingerprint(n) != h
          }
        }
      } else Seq(model(core).name) // validates existence, dbt-style error
    reach(bases, up, down)
  }

  /** D2/D3: deterministic topological order of the selected set — each
    * selector expanded per expandSelector, minus everything `exclude`
    * selects (dbt's `--exclude`, same selector syntax, no graph-flag
    * inheritance — [dbt]/task/runnable.py:90,167). Kahn's algorithm with
    * name-sorted tie-break so run order is stable across JVMs; dependency
    * edges to nodes OUTSIDE the selection are treated as satisfied, which
    * is exactly how dbt runs a mid-graph selection against stored state.
    */
  def topo(names: Seq[String], withUpstream: Boolean,
           withDownstream: Boolean = false,
           exclude: Seq[String] = Nil,
           state: Option[Manifest] = None): Seq[String] = {
    val selected = names.flatMap(expandSelector(_, withUpstream,
      withDownstream, state)).toSet
    val excluded = exclude.flatMap(expandSelector(_, withUpstream = false,
      withDownstream = false, state)).toSet
    val remaining = scala.collection.mutable.Set(
      (selected -- excluded).toSeq: _*)
    val order = scala.collection.mutable.ArrayBuffer[String]()
    while (remaining.nonEmpty) {
      val ready = remaining.toSeq.sorted
        .filter(n => model(n).deps.forall(d => !remaining(d)))
      if (ready.isEmpty)
        throw new IllegalStateException(s"cycle among ${remaining.toSeq.sorted}")
      order ++= ready
      remaining --= ready
    }
    order.toSeq
  }

  /** Build a model's plan and, if it declares a contract, validate the
    * analyzed schema against it before anything is materialized (dbt runs
    * assert_columns_equivalent ahead of the DDL for `contract: enforced`
    * models). Schema-only — no job is triggered here.
    */
  private def builtFor(m: Model): DataFrame = {
    val df = m.build(resolveDeps(m))
    m.contract.foreach(Contracts.enforce(m.name, df.schema, _))
    df
  }

  /** Materialize one node (dbt's ModelRunner.execute analog), bracketed
    * by the model's pre-/post-hooks.
    */
  private def runNode(name: String, fullRefresh: Boolean): Unit = {
    val m = model(name)
    m.preHooks.foreach(_(spark))
    materializeNode(m, fullRefresh)
    m.postHooks.foreach(_(spark))
  }

  private def materializeNode(m: Model, runFullRefresh: Boolean): Unit = {
    val name = m.name
    // dbt's should_full_refresh(): the model config wins over the run flag
    val refresh = m.fullRefresh.getOrElse(runFullRefresh)
    m.materialized match {
      case Materialization.View =>
        builtFor(m).createOrReplaceTempView(name)
      case Materialization.PartitionedTable(cols) =>
        warehouse.savePartitioned(name, builtFor(m), cols)
      case Materialization.Incremental(key, osc) =>
        val fresh = builtFor(m)
        if (!warehouse.exists(name)) warehouse.save(name, fresh)
        else if (refresh)
          // --full-refresh: rebuild from scratch, DISCARDING stored rows
          // the merge would have kept (the escape hatch for a corrupted or
          // re-specified incremental table). replace(), not save(): the
          // swap stays crash-safe and tolerates a build that reads `this`.
          warehouse.replace(name, fresh)
        else {
          val (stored, batch) =
            alignSchemas(name, warehouse.load(name), fresh, osc)
          val kept = stored
            .join(batch.select(col(key)).distinct(), Seq(key), "left_anti")
          warehouse.replace(name, kept.unionByName(batch))
        }
      case Materialization.IncrementalByPartition(pcol, osc) =>
        val fresh = builtFor(m)
        if (!warehouse.exists(name))
          warehouse.savePartitioned(name, fresh, Seq(pcol))
        else if (refresh)
          warehouse.replace(name, fresh, Seq(pcol))
        else {
          // keep only stored partitions the new batch does NOT touch, then
          // swap in history + batch as a new partitioned table. (With a
          // catalog + dynamic partition overwrite this would be a single
          // INSERT OVERWRITE; the store-agnostic form reads untouched
          // partitions once — still partition-pruned — and never merges
          // rows.)
          val (stored, batch) =
            alignSchemas(name, warehouse.load(name), fresh, osc)
          val touched = batch.select(col(pcol)).distinct()
          val kept = stored.join(touched, Seq(pcol), "left_anti")
          warehouse.replace(name, kept.unionByName(batch), Seq(pcol))
        }
      case Materialization.Snapshot(key, updatedAt, hardDeletes, snapAt) =>
        // a key's incoming row supersedes its current version iff newer
        mergeSnapshot(name, builtFor(m), key, Some(updatedAt),
          Seq("valid_from"), hardDeletes, snapAt)(
          col("valid_from") > col("__cur_valid_from"))
      case Materialization.SnapshotCheck(key, checkCols, snapshotAt,
                                         hardDeletes) =>
        val fresh = builtFor(m)
        // check_cols: all = every column of the build's output. In
        // new_record mode the tombstone flag joins the watched set, so
        // a key REAPPEARING after deletion registers as changed (its
        // current version is the flag=true tombstone, the incoming row
        // carries false) and a fresh live version opens.
        val cols = (if (checkCols.nonEmpty) checkCols
          else fresh.columns.toSeq) ++
          (if (hardDeletes == Materialization.HardDeletes.NewRecord)
            Seq("dbt_is_deleted") else Nil)
        // changed iff any watched column differs null-safely (dbt's
        // column_changed_expression is the null-aware inequality)
        mergeSnapshot(name, fresh, key, None, cols, hardDeletes,
          snapshotAt)(
          cols.map(c => !(col(c) <=> col(s"__cur_$c"))).reduce(_ || _))
      case _ =>
        warehouse.save(name, builtFor(m))
    }
  }

  /** dbt's SCD2 snapshot merge, for both strategies. A version opens at
    * `updatedAt`'s value (timestamp strategy) or at the run's timestamp
    * `runAt` (check strategy, `updatedAt` = None), and stays current
    * (valid_to NULL) until an incoming row for its key is new or
    * `changed`; the superseded version then closes at the new one's
    * valid_from. `changed` compares each incoming row's `watched`
    * columns with the current version's, read as `__cur_<column>`.
    * hard_deletes: keys gone from the source close at the run's
    * timestamp (Invalidate), optionally also appending an open
    * tombstone row flagged dbt_is_deleted (NewRecord). `runAt` is
    * called at most once.
    */
  private def mergeSnapshot(name: String, fresh: DataFrame, key: String,
      updatedAt: Option[String], watched: Seq[String],
      hardDeletes: Materialization.HardDeletes,
      runAt: () => java.sql.Timestamp)(changed: Column): Unit = {
    import Materialization.HardDeletes
    import org.apache.spark.sql.functions.lit
    val newRec = hardDeletes == HardDeletes.NewRecord
    lazy val runTs = lit(runAt())
    val validFrom = updatedAt.fold(runTs)(col)
    val fromType = fresh.select(validFrom).schema.head.dataType
    lazy val at = runTs.cast(fromType)
    val nullTo = lit(null).cast(fromType)
    val freshSnap0 = fresh
      .withColumn("valid_from", validFrom)
      .withColumn("valid_to", nullTo)
    // new_record mode: every live row carries the tombstone flag
    val freshSnap =
      if (!newRec) freshSnap0
      else freshSnap0.withColumn("dbt_is_deleted", lit(false))
    if (!warehouse.exists(name)) warehouse.save(name, freshSnap)
    else {
      val stored = warehouse.load(name)
      val current = stored.filter(col("valid_to").isNull)
      val history = stored.filter(col("valid_to").isNotNull)
      val cur = current.select(col(key).as("__k") +:
        watched.map(c => col(c).as(s"__cur_$c")): _*)
      val incoming = freshSnap
        .join(cur, col(key) === col("__k"), "left")
        .filter(col("__k").isNull || changed)
        .drop("__k" +: watched.map(c => s"__cur_$c"): _*)
      val superseded = incoming
        .select(col(key).as("__k"), col("valid_from").as("__new_from"))
      val closed = current.join(superseded, col(key) === col("__k"))
        .withColumn("valid_to", col("__new_from"))
        .drop("__k", "__new_from")
      val untouched = current
        .join(superseded, col(key) === col("__k"), "left_anti")
      val (deleted, kept) =
        if (hardDeletes == HardDeletes.Ignore) (None, untouched)
        else {
          val batchKeys = fresh.select(col(key)).distinct()
          val gone = untouched
            .join(batchKeys, Seq(key), "left_anti")
            .withColumn("valid_to", at)
          val keep = untouched.join(batchKeys, Seq(key), "left_semi")
          if (!newRec) (Some(gone), keep)
          else {
            val tomb = gone
              .withColumn("valid_from", at)
              .withColumn("valid_to", nullTo)
              .withColumn("dbt_is_deleted", lit(true))
            (Some(gone.unionByName(tomb)), keep)
          }
        }
      val merged = history.unionByName(closed).unionByName(kept)
        .unionByName(incoming)
      warehouse.replace(name, deleted.fold(merged)(merged.unionByName))
    }
  }

  /** Reconcile an incremental batch's schema with the stored table per the
    * model's `on_schema_change` ([dbt]/include/global_project/macros/
    * materializations/models/incremental/on_schema_change.sql — dbt's
    * process_schema_changes). Returns (stored', batch') with IDENTICAL
    * schemas ready to union. Pure projection plans — history is never
    * rewritten column-by-column on the driver; the casts/NULL-fills ride
    * the same distributed write the merge was already doing.
    */
  private def alignSchemas(name: String, stored: DataFrame, fresh: DataFrame,
      osc: Materialization.OnSchemaChange): (DataFrame, DataFrame) = {
    import Materialization.OnSchemaChange._
    val sFields = stored.schema.fields
    val fFields = fresh.schema.fields
    val sByName = sFields.map(f => f.name -> f).toMap
    val fByName = fFields.map(f => f.name -> f).toMap
    val added = fFields.filter(f => !sByName.contains(f.name))
    val removed = sFields.filter(f => !fByName.contains(f.name))
    if (added.isEmpty && removed.isEmpty) {
      // common fast path: same columns; align batch types/order to stored
      (stored, fresh.select(sFields.map(f =>
        col(f.name).cast(f.dataType)).toIndexedSeq: _*))
    } else osc match {
      case Fail =>
        throw new IllegalStateException(
          s"incremental model '$name': schema changed (added: " +
            s"${added.map(_.name).mkString(",")}; removed: " +
            s"${removed.map(_.name).mkString(",")}) and on_schema_change " +
            "is fail — aborting, like dbt's fail mode")
      case Ignore =>
        // dbt default: new batch columns silently not added; a batch
        // missing stored columns is the error the warehouse INSERT raises
        if (removed.nonEmpty)
          throw new IllegalStateException(
            s"incremental model '$name': batch is missing stored columns " +
              s"${removed.map(_.name).mkString(",")} and on_schema_change " +
              "is ignore (dbt: the insert fails on removed columns)")
        (stored, fresh.select(sFields.map(f =>
          col(f.name).cast(f.dataType)).toIndexedSeq: _*))
      case AppendNewColumns =>
        // table gains the batch's new columns; departed columns remain,
        // NULL in new rows. Common columns keep the STORED type.
        val outFields = sFields ++ added
        def pick(df: DataFrame, have: Map[String,
            org.apache.spark.sql.types.StructField]) =
          df.select(outFields.map { f =>
            if (have.contains(f.name)) col(f.name).cast(
              sByName.getOrElse(f.name, f).dataType)
            else org.apache.spark.sql.functions.lit(null)
              .cast(sByName.getOrElse(f.name, f).dataType).as(f.name)
          }.toIndexedSeq: _*)
        (pick(stored, sByName), pick(fresh, fByName))
      case SyncAllColumns =>
        // table takes the batch's schema: adds, removals, AND type changes
        val outFields = fFields
        def pick(df: DataFrame, have: Map[String,
            org.apache.spark.sql.types.StructField]) =
          df.select(outFields.map { f =>
            if (have.contains(f.name)) col(f.name).cast(f.dataType)
            else org.apache.spark.sql.functions.lit(null)
              .cast(f.dataType).as(f.name)
          }.toIndexedSeq: _*)
        (pick(stored, sByName), pick(fresh, fByName))
    }
  }

  /** D3: `run --select <names>`. Like dbt, a bare select does NOT rebuild
    * ancestors (`withUpstream = false` — reference: automate_pipeline.py:10
    * runs `--select fct_orders` assuming staging exists); `withUpstream =
    * true` mirrors dbt's `+fct_orders`. Views cost nothing to "run" (their
    * materialization is the lazy plan itself) but are registered as temp
    * views so SQL readers can also see them.
    *
    * `threads > 1` mirrors dbt's thread-pool scheduler (reference:
    * dbt/task/runnable.py:317,437 — a GraphQueue feeds `threads` workers):
    * every node gets a Future that awaits its in-selection dependencies'
    * Futures, so a node starts the moment its deps finish — ready-queue
    * semantics, not layer barriers — bounded by a fixed pool. Spark's
    * scheduler is thread-safe, so concurrent saves of independent models
    * just become concurrent jobs. Any node failure propagates and aborts
    * the run, like dbt marking downstream nodes errored. The returned order
    * is the deterministic topological order regardless of threads.
    */
  def run(select: Seq[String], withUpstream: Boolean = false,
          threads: Int = 1, withDownstream: Boolean = false,
          exclude: Seq[String] = Nil,
          state: Option[Manifest] = None,
          fullRefresh: Boolean = false): Seq[String] = {
    val order = topo(select, withUpstream, withDownstream, exclude, state)
    onRunStart.foreach(_(spark))
    try runOrder(order, threads, fullRefresh)
    finally onRunEnd.foreach(_(spark, order))
    order
  }

  /** dbt's `clone` command ([dbt]/task/clone.py): materialize COPIES of
    * the selected relations from another environment's store into this
    * catalog's warehouse — the CI pattern when `--defer`'s read-through
    * is not enough because the job will WRITE (an incremental model
    * merging into a clone leaves prod untouched; a deferred read would
    * resolve the self-reference to the prod table). Snowflake backs this
    * with zero-copy clone; a parquet warehouse pays the copy, once,
    * distributed. Nodes absent from the source store are skipped, like
    * dbt cloning against a partial state. Returns the cloned names in
    * topological order.
    */
  def cloneFrom(from: TableStore, select: Seq[String],
                withUpstream: Boolean = false): Seq[String] = {
    val order = topo(select, withUpstream, false, Nil, None)
    val present = order.filter(from.exists)
    present.foreach(n => warehouse.save(n, from.load(n)))
    present
  }

  /** One node's outcome from `build`: `success`, `error` (its build threw
    * or an attached error-severity test failed), or `skipped` (some
    * transitive upstream errored).
    */
  final case class NodeResult(name: String, status: String,
      tests: Seq[(String, graft.checks.Checks.TestResult)])

  /** dbt's `build` command semantics, distinct from run-then-test: nodes
    * materialize in topological order with their ATTACHED tests evaluated
    * immediately after each node, and an error outcome (build exception or
    * Error-severity test failure) SKIPS every transitive downstream node
    * while INDEPENDENT branches keep running ([dbt]/task/build.py — test
    * failures block children, unlike `dbt run; dbt test` where bad data
    * has already propagated by the time tests run). Warn outcomes do not
    * gate. `tests` maps node name -> (test name, failure-rows query);
    * `warnOnly` names tests with severity: warn.
    */
  def build(select: Seq[String],
            tests: Map[String, Seq[(String, Catalog => DataFrame)]],
            withUpstream: Boolean = false,
            warnOnly: Set[String] = Set.empty,
            fullRefresh: Boolean = false): Seq[NodeResult] = {
    import graft.checks.Checks
    val order = topo(select, withUpstream, false, Nil, None)
    val failed = scala.collection.mutable.Set[String]()
    order.map { n =>
      if (model(n).deps.exists(failed)) {
        failed += n // transitive: a skip gates its own children too
        NodeResult(n, "skipped", Nil)
      } else scala.util.Try(runNode(n, fullRefresh)) match {
        case scala.util.Failure(_) =>
          failed += n
          NodeResult(n, "error", Nil)
        case scala.util.Success(_) =>
          val outcomes = tests.getOrElse(n, Nil).map { case (tn, q) =>
            tn -> Checks.evaluate(q(this), warnOnly = warnOnly(tn))
          }
          val bad = outcomes.exists(_._2.isInstanceOf[Checks.Error])
          if (bad) failed += n
          NodeResult(n, if (bad) "error" else "success", outcomes)
      }
    }
  }

  /** dbt's `retry` command ([dbt]/task/retry.py): re-execute ONLY the
    * nodes the previous `build` did not complete successfully (status
    * `error` or `skipped`), leaving successful nodes' stored artifacts
    * untouched — their tables already exist in the warehouse, which is
    * the whole point of not re-running them. Dependency gating inside
    * the retry behaves exactly as in `build` (a node that errors again
    * re-skips its downstream). Returns the MERGED result set: the
    * previous successes verbatim plus the retried nodes' new outcomes,
    * in the previous run's order — dbt's run_results merge semantics.
    */
  def retry(previous: Seq[NodeResult],
            tests: Map[String, Seq[(String, Catalog => DataFrame)]],
            warnOnly: Set[String] = Set.empty,
            fullRefresh: Boolean = false): Seq[NodeResult] = {
    val redo = previous.filter(_.status != "success").map(_.name)
    if (redo.isEmpty) previous
    else {
      val retried = build(redo, tests, withUpstream = false, warnOnly,
        fullRefresh)
      val byName = retried.map(r => r.name -> r).toMap
      previous.map(r => byName.getOrElse(r.name, r))
    }
  }

  private def runOrder(order: Seq[String], threads: Int,
                       fullRefresh: Boolean = false): Unit = {
    if (threads <= 1) order.foreach(runNode(_, fullRefresh))
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val inSelection = order.toSet
        val futures = scala.collection.mutable.Map[String, Future[Unit]]()
        order.foreach { n => // topo order => dep futures already registered
          val depFs = model(n).deps.filter(inSelection).map(futures)
          futures(n) = Future.sequence(depFs)
            .flatMap(_ => Future(runNode(n, fullRefresh)))
        }
        Await.result(Future.sequence(futures.values.toSeq), Duration.Inf)
      } finally pool.shutdown()
    }
  }
}
