package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One Drive file's metadata as the files.list API returns it
  * (google_drive.rs:112-144 visit_file's input shape). */
case class DriveFile(id: String, name: String, mimeType: String,
    trashed: Boolean, modifiedTimeMicros: Long, md5: String,
    parents: Seq[String])

/** One files.list page: children of a folder + continuation token. */
case class DrivePage(files: Seq[DriveFile], nextPageToken: Option[String])

/** The Drive API boundary — listing is a metadata walk (driver-side,
  * like the reference's async stream), content fetch is the data path
  * (distributed). A real implementation wraps the HTTP API; tests use
  * a deterministic in-memory fixture. */
trait DriveClient extends Serializable {
  /** One page of a folder's children (files.list, q = "'id' in
    * parents", google_drive.rs:146-168). */
  def listFolder(folderId: String, pageToken: Option[String]): DrivePage
  /** File body — files.export for Google-Docs types, files.get
    * alt=media otherwise (google_drive.rs:358-388). */
  def fetch(fileId: String, mime: String): String
}

/** GoogleDrive-shaped source (src/ops/sources/google_drive.rs:22-430 +
  * app/connectors/google_drive_connector.py:37-520) without the
  * network: recursive folder listing with seen-id dedup, export-type
  * routing, and the recent-updates change poll with the 1-second
  * cutoff buffer — all as the engine's KTable source contract
  * (source_key, ordinal, content_hash) feeding
  * [[graft.incremental.Incremental.syncSource]];
  * [[graft.incremental.Incremental.diff]] shows the delta it commits.
  */
object GoogleDrive {

  val FolderMime = "application/vnd.google-apps.folder"
  val FileMime = "application/vnd.google-apps.file"

  /** CUTOFF_TIME_BUFFER = 1 s (google_drive.rs:111): a file modified
    * in the same second the poll started may land after the listing,
    * so the next cutoff never advances past listStart − 1 s. */
  val CutoffBufferMicros: Long = 1000000L

  /** Export-type routing (google_drive.rs:22-48): Google-Docs mime →
    * (text export, binary export); anything else downloads directly. */
  val exportMimeTypes: Seq[(String, (String, String))] = Seq(
    "application/vnd.google-apps.document" -> ("text/markdown", "application/pdf"),
    "application/vnd.google-apps.spreadsheet" -> ("text/csv", "application/pdf"),
    "application/vnd.google-apps.presentation" -> ("text/plain", "application/pdf"),
    "application/vnd.google-apps.drawing" -> ("image/svg+xml", "image/png"),
    "application/vnd.google-apps.script" ->
      ("application/vnd.google-apps.script+json", "application/vnd.google-apps.script+json"))

  /** is_supported_file_type (google_drive.rs:50-54). */
  def isSupported(mime: String): Boolean =
    !mime.startsWith("application/vnd.google-apps.") ||
      exportMimeTypes.exists(_._1 == mime) || mime == FileMime

  /** Column twin of the export routing: the mime the content fetch
    * uses (export target for Google-Docs types, the file's own mime
    * for direct downloads). */
  def exportMimeFor(mime: Column, binary: Boolean = false): Column =
    exportMimeTypes.foldRight(mime) { case ((gMime, (text, bin)), acc) =>
      when(mime === gMime, lit(if (binary) bin else text)).otherwise(acc)
    }

  /** Recursive listing (google_drive.rs:289-323 + visit_file
    * :112-144): depth-first over the folder stack with pagination,
    * trashed files skipped, already-seen ids skipped (a file reachable
    * through two folders lists once), folders recursed, unsupported
    * mimes dropped. The folder tree is metadata — a driver-side walk,
    * exactly like the reference's async stream; content stays remote.
    *
    * Output: (file_id, name, mime_type, ordinal = modifiedTime micros,
    * md5, export_mime).
    */
  def listing(spark: SparkSession, client: DriveClient,
      rootFolderIds: Seq[String]): DataFrame = {
    val seen = mutable.Set.empty[String]
    val out = mutable.ArrayBuffer.empty[DriveFile]
    val folderIds = mutable.Stack.empty[String]
    rootFolderIds.reverse.foreach(folderIds.push)
    while (folderIds.nonEmpty) {
      val folderId = folderIds.pop()
      val newFolders = mutable.ArrayBuffer.empty[String]
      var pageToken: Option[String] = None
      var done = false
      while (!done) {
        val page = client.listFolder(folderId, pageToken)
        page.files.foreach { f =>
          if (!f.trashed && seen.add(f.id)) {
            if (f.mimeType == FolderMime) newFolders += f.id
            else if (isSupported(f.mimeType)) out += f
          }
        }
        pageToken = page.nextPageToken
        done = pageToken.isEmpty
      }
      // LIFO with reversal — the reference's folder_ids.extend(rev)
      newFolders.reverseIterator.foreach(folderIds.push)
    }
    import spark.implicits._
    out.toSeq
      .map(f => (f.id, f.name, f.mimeType, f.modifiedTimeMicros, f.md5))
      .toDF("file_id", "name", "mime_type", "ordinal", "md5")
      .withColumn("export_mime", exportMimeFor(col("mime_type")))
  }

  /** Distributed content fetch over a listing: one client per
    * partition, export routing applied (google_drive.rs:358-405).
    * Output is the engine source contract: (source_key, ordinal,
    * content, content_hash, name, mime_type). */
  def fetchContent(listing: DataFrame, mkClient: () => DriveClient): DataFrame = {
    val spark = listing.sparkSession
    import spark.implicits._
    graft.Partitioning.spread(listing
        .select(col("file_id"), col("name"), col("mime_type"),
          col("export_mime"), col("ordinal")))
      .as[(String, String, String, String, Long)]
      .mapPartitions { it =>
        val client = mkClient()
        it.map { case (id, name, mime, exportMime, ordinal) =>
          (id, ordinal, client.fetch(id, exportMime), name, mime)
        }
      }
      .toDF("source_key", "ordinal", "content", "name", "mime_type")
      .withColumn("content_hash", sha2(col("content"), 256))
  }

  /** Changed files since the cutoff — the recent-updates poll filter
    * (google_drive.rs:180-232 stops paging at modified <= cutoff;
    * frame form: strict ordinal > cutoff). */
  def recentChanges(listing: DataFrame, cutoffMicros: Long): DataFrame =
    listing.where(col("ordinal") > lit(cutoffMicros))

  /** Next poll cutoff (make_cutoff_time, google_drive.rs:169-178):
    * min(most recent modifiedTime, listStart − buffer); the safe
    * upper bound alone when the listing is empty. One-row frame
    * (new_cutoff) so it composes without a driver action. */
  def nextCutoff(listing: DataFrame, listStartMicros: Long): DataFrame =
    listing.agg(
      least(coalesce(max(col("ordinal")), lit(Long.MaxValue)),
        lit(listStartMicros - CutoffBufferMicros)).as("new_cutoff"))
}
