package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{Bam, Bcf}

/** Whole-file reads through the DSv2 relations, the oracle the split
  * reads are held to: a splitSize no file under the path exceeds, so
  * every file tiles to one range at offset 0 and its records decode
  * straight from the header, with no member anchor and no alignment
  * scan. The rows come back checkpointed: a filter applied to them runs
  * above the materialized rows and never prunes a scan.
  */
object WholeFile {

  /** The largest file length under `path` (a file or a directory). */
  def splitSize(path: String): Long = {
    val f = new java.io.File(path)
    val files =
      if (f.isDirectory) f.listFiles().toSeq.filter(_.isFile) else Seq(f)
    math.max(1L, files.map(_.length()).max)
  }

  def bcf(spark: SparkSession, path: String): DataFrame =
    Bcf.readTable(spark, path, splitSize = splitSize(path)).localCheckpoint()

  def bam(spark: SparkSession, path: String): DataFrame =
    Bam.readTable(spark, path, splitSize = splitSize(path)).localCheckpoint()
}
