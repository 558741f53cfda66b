package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed upsert / delete over [[Snapshots]] tables, MERGE-ON-READ: every
  * mutation commits as an APPEND-ONLY batch stamped with its snapshot id
  * (plus a tombstone flag for deletes), and the current row set is
  * resolved at read time — latest version per key wins, tombstones drop
  * the key. This is the lakehouse upsert model (Hudi/Iceberg MoR): at
  * 100 TB a batch upsert costs a batch-sized write, never a table
  * rewrite; the read-side resolution is one window over the key
  * exchange, and [[compact]] folds accumulated versions back into a
  * clean base when read amplification warrants it.
  *
  * Every commit carries `__v` (the snapshot id — total order across
  * commits by the [[Snapshots]] protocol) and `__del`; within one
  * commit keys must be unique (checked) so "latest version per key" is
  * total and deterministic on any engine.
  */
object MergeOnRead {

  private val V = "__v"
  private val DEL = "__del"

  private def requireUniqueKeys(df: DataFrame, idCol: String, op: String): Unit = {
    val a = df.agg(count(lit(1)), count_distinct(col(idCol))).head()
    require(a.getLong(0) == a.getLong(1),
      s"$op batch has duplicate '$idCol' keys (${a.getLong(0)} rows, " +
        s"${a.getLong(1)} distinct) — latest-wins needs one version per " +
        "key per commit; dedupe the batch first")
  }

  /** The stamped `__v` must equal the id [[Snapshots.write]] actually
    * commits — a racer landing between the stamp and the commit would
    * silently corrupt latest-wins ordering, so fail loudly instead
    * (the manifest CREATE_NEW already catches same-id races). */
  private def commitStamped(df: DataFrame, dir: String, id: Long,
      mode: String): Long = {
    val got = Snapshots.write(df, dir, mode)
    require(got == id,
      s"concurrent commit raced this mutation (stamped __v=$id, " +
        s"committed snapshot $got) — the table at $dir needs the stamp " +
        "redone; retry the operation")
    got
  }

  /** Create the table / upsert a batch: rows with keys already present
    * supersede them at read time, new keys appear. Returns snapshot id. */
  def upsert(df: DataFrame, dir: String, idCol: String): Long = {
    requireUniqueKeys(df, idCol, "upsert")
    val id = Snapshots.currentSnapshotId(dir).getOrElse(0L) + 1L
    commitStamped(
      df.withColumn(V, lit(id)).withColumn(DEL, lit(false)),
      dir, id, mode = if (id == 1L) "overwrite" else "append")
  }

  /** Delete keys (a one-column DataFrame of `idCol`): commits key-only
    * tombstone rows — absent keys are no-op tombstones. The schema gap
    * vs data rows is filled with nulls at read (mergeSchema). */
  def delete(keys: DataFrame, dir: String, idCol: String): Long = {
    requireUniqueKeys(keys, idCol, "delete")
    val id = Snapshots.currentSnapshotId(dir).getOrElse(0L) + 1L
    require(id > 1L, s"cannot delete from an empty table at $dir")
    commitStamped(
      keys.select(col(idCol)).withColumn(V, lit(id))
        .withColumn(DEL, lit(true)),
      dir, id, mode = "append")
  }

  /** The resolved row set of a snapshot (HEAD by default): one row per
    * live key, helper columns dropped. One window over the key exchange;
    * tombstone rows never contribute data columns. */
  def readMerged(spark: SparkSession, dir: String,
      idCol: String, snapshotId: Option[Long] = None): DataFrame = {
    val raw = ParquetSchemas.read(spark, dirsOf(dir, snapshotId),
      mergeSchema = true)
    val w = Window.partitionBy(col(idCol)).orderBy(col(V).desc)
    raw.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col(DEL))
      .drop("__rn", V, DEL)
  }

  /** Key-level diff between two snapshots' RESOLVED states: (key,
    * change) with change ∈ added | removed | changed — content compared
    * by hashing every non-key column's string form, so only (key,
    * 128-bit digest) pairs meet in the full-outer join. */
  def diff(spark: SparkSession, dir: String, idCol: String,
      fromId: Long, toId: Long): DataFrame = {
    def digested(id: Long) = {
      val m = readMerged(spark, dir, idCol, Some(id))
      val dataCols = m.columns.filter(_ != idCol).sorted
      // The per-row digest must be INJECTIVE over the column tuple:
      // hash each column first (fixed-width hex; null → "-", which no
      // hex digest equals), then hash the joined string — no choice of
      // data content, embedded separators, or null placement can make
      // two different tuples collide (concat-with-separator cannot
      // promise that, and it would additionally SKIP nulls outright)
      m.select(col(idCol),
        md5(concat_ws("|",
          dataCols.map(c => coalesce(md5(col(c).cast("string")
            .cast("binary")), lit("-"))): _*).cast("binary"))
          .as("__h"))
    }
    digested(fromId).as("a")
      .join(digested(toId).as("b"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("a.__h").isNull, "added")
          .when(col("b.__h").isNull, "removed")
          .otherwise("changed").as("change"))
      .filter(col("change") =!= "changed" ||
        col("a.__h") =!= col("b.__h"))
  }

  /** Fold all accumulated versions into a fresh overwrite snapshot (the
    * maintenance rewrite — run when version chains make reads heavy).
    * History stays readable: old snapshots keep their manifests. */
  def compact(spark: SparkSession, dir: String, idCol: String): Long = {
    val resolved = readMerged(spark, dir, idCol)
    val id = Snapshots.currentSnapshotId(dir).getOrElse(0L) + 1L
    commitStamped(
      resolved.withColumn(V, lit(id)).withColumn(DEL, lit(false)),
      dir, id, mode = "overwrite")
  }

  private def dirsOf(dir: String, snapshotId: Option[Long]): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    val id = snapshotId.orElse(Snapshots.currentSnapshotId(dir)).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $dir"))
    // Snapshots' manifest resolution, as the dir LIST rather than the
    // DataFrame — readMerged needs to set mergeSchema on the read
    Snapshots.dataDirsOf(root, id)
  }
}
