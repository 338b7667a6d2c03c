package graft

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.catalyst.plans.logical.Repartition

/** A non-`file` scheme over a local directory: `graftremote://bucket/<p>`
  * is `<RemoteSchemeFs.root>/<p>`. The object path is not a local path, so
  * a size taken with `java.io.File` reads 0, as it does for a real
  * `hdfs://` or `s3a://` object. */
class RemoteSchemeFs extends RawLocalFileSystem {
  override def getScheme: String = "graftremote"
  override def getUri: URI = URI.create("graftremote://bucket")
  override def pathToFile(path: Path): java.io.File =
    new java.io.File(RemoteSchemeFs.root, path.toUri.getPath)
  override def getFileStatus(f: Path): FileStatus = {
    val st = super.getFileStatus(f)
    st.setPath(makeQualified(f))
    st
  }
}

object RemoteSchemeFs {
  @volatile var root: java.io.File = _
}

/** `Tables.fanOutSmallScan` sizes its input through each file's Hadoop
  * FileSystem, so a large remote table takes the distributed path. */
class FanOutSmallScanSpec extends SparkSpec {

  private def fannedOut(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[Repartition]

  test("a remote-scheme input over the size threshold is not repartitioned") {
    val dir = Files.createTempDirectory("graft_fanout_")
    dir.toFile.deleteOnExit()
    spark.range(5000).selectExpr("id", "cast(id as string) s").coalesce(1)
      .write.parquet(dir.resolve("t").toString)
    RemoteSchemeFs.root = dir.toFile
    // what `spark.hadoop.fs.graftremote.impl` sets at context start; the
    // shared test session is already running, so set its Hadoop conf
    val hadoop = spark.sparkContext.hadoopConfiguration
    hadoop.set("fs.graftremote.impl", classOf[RemoteSchemeFs].getName)
    try {
      val remote = spark.read.schema("id long, s string").parquet("graftremote://bucket/t")
      assert(remote.inputFiles.length == 1 && remote.inputFiles.head.startsWith("graftremote:"),
        remote.inputFiles.toSeq)
      // a threshold of 1 byte per core: the one real file is far over it
      assert(!fannedOut(Tables.fanOutSmallScan(remote, bytesPerCore = 1L)))
      // and under a generous threshold the same input still fans out
      assert(fannedOut(Tables.fanOutSmallScan(remote)))
      // the local spelling of the same table agrees
      val local = spark.read.parquet(dir.resolve("t").toString)
      assert(!fannedOut(Tables.fanOutSmallScan(local, bytesPerCore = 1L)))
      assert(fannedOut(Tables.fanOutSmallScan(local)))
    } finally hadoop.unset("fs.graftremote.impl")
  }
}
