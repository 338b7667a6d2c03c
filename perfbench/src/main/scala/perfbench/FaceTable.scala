package perfbench

import java.nio.file.{Files, Paths}

/** Maintenance tool for `faces.tsv`: runs every candidate face on the
  * generated sf0.01 tables and writes `name, family, seconds, fingerprint,
  * fingerprint again, error` per face; seconds is the median of three
  * noop runs between the two fingerprints. `make_faces.py` keeps the faces
  * whose two fingerprints agree across runs and whose output the DuckDB
  * oracle matches hash-exact.
  *
  * Usage: FaceTable <out.tsv> <work dir> [cores [faces file]] */
object FaceTable {
  /** Faces that read or write a file format, or only check a sketch. */
  val Excluded = "^(xlsx|ods|csv|json|jsonl|orc|parquet)_|xlsx|ods_|roundtrip|_check$".r

  def family(name: String): String =
    if (name.matches("^q\\d\\d_.*")) "tpch" else name.takeWhile(_ != '_')

  def main(argv: Array[String]): Unit = {
    val root = Paths.get(argv(1)).toAbsolutePath
    Files.createDirectories(root)
    val n = argv.lift(2).map(_.toInt).getOrElse(math.min(Runtime.getRuntime.availableProcessors, 4))
    val spark = Session.build(n, root)
    val only: Set[String] = argv.lift(3).map(f =>
      scala.io.Source.fromFile(f).getLines().map(_.split("\t")(0)).toSet).getOrElse(Set.empty)
    val data = root.resolve("tables")
    if (!Files.exists(data.resolve("lineitem.parquet")))
      DataGen.writeTables(spark, data, 0.01, Workloads.DataSeed)
    val faces = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (k, _) => Excluded.findFirstIn(k).isEmpty && Main.Families.contains(family(k)) }
      .filter { case (k, _) => only.isEmpty || only(k) }
    val out = Files.newBufferedWriter(Paths.get(argv(0)))
    faces.foreach { case (name, fn) =>
      val line = try {
        val fp1 = Util.fingerprint(fn(spark, data.toString))
        val t = Util.median((0 until 3).map { _ =>
          System.gc()
          val t0 = Util.now()
          Workloads.noop(fn(spark, data.toString))
          Util.secs(t0, Util.now())
        })
        val fp2 = Util.fingerprint(fn(spark, data.toString))
        s"$name\t${family(name)}\t$t\t$fp1\t$fp2\t"
      } catch { case e: Throwable =>
        s"$name\t${family(name)}\t-1\t\t\t${e.toString.replaceAll("\\s+", " ").take(200)}"
      }
      System.err.println(line)
      out.write(line); out.newLine(); out.flush()
    }
    out.close()
    spark.stop()
    System.exit(0)
  }
}
