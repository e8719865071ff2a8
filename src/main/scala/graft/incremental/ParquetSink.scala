package graft.incremental

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Primary-key MERGE onto a parquet path by rewrite-and-swap.
  *
  * Semantics of the reference's export mutation (interface.rs:306-309,
  * postgres.rs:742-780): upserts replace rows with equal primary key,
  * `deletes` removes rows by key, everything else is preserved.
  *
  * Plain parquet has no transactional MERGE, so this rewrites into a
  * staging dir and swaps. That is correct single-writer behavior (the
  * incremental driver is single-writer per sink, like the reference's
  * per-source indexing loop). On a cluster deployment the same call
  * maps 1:1 onto Delta Lake `MERGE INTO` / JDBC upsert — only this
  * file changes; rewrite cost then becomes O(delta), not O(table).
  *
  * The swap never leaves the path without a complete version: it
  * renames the live directory aside (`<path>.old`), moves the staging
  * directory in, and only then deletes the old copy. A crash between
  * the two renames leaves the previous version at `<path>.old` alone;
  * [[exists]] and [[read]] (and so every caller that looks before it
  * reads) move it back first.
  */
object ParquetSink {

  private def aside(path: String): Path = Paths.get(path + ".old")

  /** Moves the renamed-aside copy back when it is the only one. */
  private def recover(path: String): Unit =
    if (!Files.exists(Paths.get(path)) && Files.exists(aside(path)))
      Files.move(aside(path), Paths.get(path))

  def exists(path: String): Boolean = {
    recover(path)
    Files.exists(Paths.get(path))
  }

  def read(spark: SparkSession, path: String): Option[DataFrame] =
    if (exists(path)) Some(spark.read.parquet(path)) else None

  /** [[read]] under a schema the caller already has: columns match by
    * name, and no job reads a footer to infer it. */
  def read(spark: SparkSession, path: String, schema: StructType): Option[DataFrame] =
    if (exists(path)) Some(spark.read.schema(schema).parquet(path)) else None

  /** Upsert `rows` on `primaryKey`; additionally drop keys present in
    * `deletes` (a DataFrame holding the primary-key columns). Deletes
    * win over same-batch upserts.
    *
    * The existing table is read under `rows`' schema, so the delta's
    * shape is the table's: schema changes go through
    * [[SetupDriver.applySetup]] first. The existing rows pass a
    * left-anti join against the delta's keys and the deleted keys;
    * the join's build side needs no `distinct()`. Keys match
    * null-safely ([[joinOnKey]]): a NULL key is a key like any other,
    * so an upsert replaces the row stored under it.
    */
  def merge(spark: SparkSession, path: String, rows: DataFrame,
      primaryKey: Seq[String], deletes: Option[DataFrame]): Unit = {
    val keys = primaryKey.map(col)
    val newRows = deletes.fold(rows)(d => joinOnKey(rows, d, primaryKey, "left_anti"))
    val result = read(spark, path, rows.schema) match {
      case None => newRows
      case Some(existing) =>
        val removed = deletes.fold(rows.select(keys: _*))(d =>
          rows.select(keys: _*).unionByName(d.select(keys: _*)))
        joinOnKey(existing, removed, primaryKey, "left_anti").unionByName(newRows)
    }
    swapWrite(spark, path, result)
  }

  /** `left` joined to `right` on the `key` columns, NULL matching NULL
    * (`<=>`; the planner keeps it an equi-join). `right`'s key columns
    * are renamed apart first (`_rk0`, `_rk1`, ...). */
  private[incremental] def joinOnKey(left: DataFrame, right: DataFrame,
      key: Seq[String], how: String): DataFrame = {
    val renamed = key.indices.map(i => s"_rk$i")
    val on = key.zip(renamed).map { case (k, r) => col(k) <=> col(r) }.reduce(_ && _)
    left.join(right.withColumnsRenamed(key.zip(renamed).toMap), on, how)
  }

  /** Write `df` to `path` via a staging dir and a rename-aside swap;
    * safe to call when `df`'s plan reads from `path` itself. */
  def swapWrite(spark: SparkSession, path: String, df: DataFrame): Unit =
    swapWrite(spark, path, df, () => ())

  /** [[swapWrite]] with `afterAside` run between renaming the live
    * copy aside and moving the staging copy in: the point a crash
    * leaves only the renamed-aside copy. */
  private[graft] def swapWrite(spark: SparkSession, path: String, df: DataFrame,
      afterAside: () => Unit): Unit = {
    val staging = Paths.get(path + ".staging")
    df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val live = Paths.get(path)
    recover(path)
    // a copy left aside beside a live one is older than the live one
    if (Files.exists(aside(path))) deleteRecursively(aside(path))
    if (Files.exists(live)) Files.move(live, aside(path))
    afterAside()
    Files.move(staging, live)
    if (Files.exists(aside(path))) deleteRecursively(aside(path))
  }

  private def deleteRecursively(p: Path): Unit =
    Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
}
