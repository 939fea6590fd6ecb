package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Cols

/** File-manifest model — the reference's central ingest abstraction
  * (SURVEY.md §1): one row per file with path, basename, standardized
  * key, provenance tag, size and mtime. Mirrors the listing + metadata
  * capture of `assess_changes.qmd:50-114`.
  *
  * Metadata is captured eagerly at listing time (the reference stats files
  * at transform time, `assess_changes.qmd:107-113`; Spark laziness would
  * re-stat at action time, so we materialize into the row).
  */
final case class ManifestRow(
    full_path: String,
    file_name: String,
    std_name: String,
    version_tag: String,
    size_bytes: Long,
    mtime_ms: Long)

object FileManifest {

  /** Recursive listing of `root` into a manifest Dataset, tagged with
    * `versionTag` ("old"/"new"). Listing happens on the driver via the
    * Hadoop FileSystem API (metadata-scale — one row per file, not per
    * byte), then parallelizes as a Dataset; at cluster scale swap in
    * `spark.read.format("binaryFile")` + `_metadata` for a distributed
    * listing. Mirrors `assess_changes.qmd:50-51,72-75`.
    *
    * A DIRECTORY whose name carries a dataset extension (`x.parquet/`,
    * `x.orc/` — the layout every distributed writer produces: a dir of
    * part files) is ONE dataset entry: size = recursive byte sum, mtime
    * = newest part. Listing its part-00000-uuid internals as separate
    * manifest rows would make every std_name meaningless and the
    * manifest's row count a function of writer parallelism, not of the
    * data — the 30× multi-file sweep caught exactly that. Other
    * directories recurse transparently as before.
    */
  private val DatasetDirExt = ".*\\.(parquet|orc|avro)$"

  def list(spark: SparkSession, root: String, versionTag: String): DataFrame = {
    import spark.implicits._
    listRows(spark, root, versionTag).toDS().toDF()
  }

  /** The rows of [[list]], as the driver lists them. */
  def listRows(spark: SparkSession, root: String,
               versionTag: String): Seq[ManifestRow] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.ArrayBuffer.empty[ManifestRow]
    // Sidecars (_SUCCESS, _committed*, .*.crc) are writer bookkeeping,
    // not data: including them would let a zero-byte marker drive the
    // dataset's mtime and pad size_bytes past the data bytes.
    def isSidecar(name: String): Boolean =
      name.startsWith("_") || name.startsWith(".")
    def sumDir(p: Path): (Long, Long) =
      fs.listStatus(p).foldLeft((0L, 0L)) { case ((sz, mt), st) =>
        if (st.isDirectory) {
          val (s2, m2) = sumDir(st.getPath)
          (sz + s2, math.max(mt, m2))
        } else if (isSidecar(st.getPath.getName)) (sz, mt)
        else (sz + st.getLen, math.max(mt, st.getModificationTime))
      }
    def walk(p: Path): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.matches(DatasetDirExt)) {
          val (sz, mt) = sumDir(st.getPath)
          out += ManifestRow(st.getPath.toUri.getPath, name,
            stdKeyStr(name), versionTag, sz, mt)
        } else if (st.isDirectory) walk(st.getPath)
        else out += ManifestRow(st.getPath.toUri.getPath, name,
          stdKeyStr(name), versionTag, st.getLen, st.getModificationTime)
      }
    // The collapse must also apply when ROOT ITSELF is the dataset dir
    // (list(".../lineitem.parquet")): walking it would list part files
    // as individual rows — exactly what the collapse exists to prevent.
    val base = new Path(root)
    if (fs.exists(base)) {
      val rootName = base.getName
      if (fs.getFileStatus(base).isDirectory &&
          rootName.matches(DatasetDirExt)) {
        val (sz, mt) = sumDir(base)
        out += ManifestRow(base.toUri.getPath, rootName,
          stdKeyStr(rootName), versionTag, sz, mt)
      } else walk(base)
    }
    out.toSeq
  }

  /** Driver-side twin of `Cols.stdKey` for manifest construction. */
  def stdKeyStr(name: String): String =
    name.replaceAll("^filtered_", "")
      .replaceAll("_V\\d{6,7}[a-z]*", "")
      .replaceAll("\\.[a-zA-Z0-9]+$", "")
      .replaceAll("[^a-zA-Z0-9]", "_")
      .toLowerCase

  /** Old↔new matching on the standardized key: the reference does a
    * `pivot_wider` (`assess_changes.qmd:97-103`); the idiomatic Spark form
    * is a full-outer join (SURVEY.md §2.3 `join_versions`). Both manifests
    * are metadata-scale → broadcast-friendly, but the plan is
    * shuffle-correct for huge manifests too.
    */
  def joinVersions(oldM: DataFrame, newM: DataFrame): DataFrame = {
    val o = oldM.select(col("std_name"),
      col("full_path").as("old_path"), col("size_bytes").as("old_bytes"))
    val n = newM.select(col("std_name"),
      col("full_path").as("new_path"), col("size_bytes").as("new_bytes"))
    o.join(n, Seq("std_name"), "full_outer")
  }

  /** Pivot formulation of the same matching (`pivot_dir`,
    * `assess_changes.qmd:97-103`). R's `pivot_wider` list-col behavior on
    * duplicate keys is replaced by a deterministic `min(full_path)`
    * tie-break (documented divergence, SURVEY.md §7).
    */
  def pivotDir(tagged: DataFrame): DataFrame =
    tagged.groupBy("std_name")
      .pivot("version_tag", Seq("new", "old"))
      .agg(min("full_path"))

  /** File-level drift report — exists flags + MB size delta
    * (`assess_changes.qmd:104-114`).
    */
  def fileDiff(oldM: DataFrame, newM: DataFrame): DataFrame =
    joinVersions(oldM, newM).select(
      col("std_name"),
      col("old_path").isNotNull.as("exists_in_old"),
      col("new_path").isNotNull.as("exists_in_new"),
      round(Cols.sizeMb(col("new_bytes")) - Cols.sizeMb(col("old_bytes")), 6)
        .as("size_change_mb"))
}
