package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}

/** The engine's `file:` FileSystem ([[EngineLocalFileSystem]], named by
  * `Engine.session`): Hive writes set permissions and check links
  * in-process, so a DML session forks no subprocess, and its files look
  * as they did when Hadoop forked `chmod`: the same permission bits,
  * `.crc` sidecars, and a rename onto an existing file refused. */
class LocalFilesSpec extends SparkSpec {

  private def localFs: FileSystem = FileSystem.get(
    new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)

  /** Every file and directory under `root` (itself included), by kind:
    * `dir`, `crc` (a checksum sidecar) or `file`, to its permission
    * strings. */
  private def permsUnder(root: String): Map[String, Set[String]] =
    Files.walk(Paths.get(root)).iterator().asScala.toSeq.map { p =>
      val kind =
        if (Files.isDirectory(p)) "dir"
        else if (p.getFileName.toString.endsWith(".crc")) "crc"
        else "file"
      kind -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }

  test("a Hive DML session forks no subprocess and writes the same " +
      "permission bits and .crc sidecars") {
    assert(localFs.getClass === classOf[EngineLocalFileSystem])
    val dir = Files.createTempDirectory("graft_nofork").toString
    Seq("nf_t", "nf_imp").foreach(freshTable)
    spark.sql("DROP DATABASE IF EXISTS nf_db CASCADE")
    spark.conf.set("spark.graft.metastore.path", s"$dir/metastore.ledger")
    // Spark's process-tree metrics run `getconf PAGESIZE` once per JVM,
    // at its first heartbeat; make that happen before the recording
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      val h = new HiveStatements(spark)
      h.sql("CREATE DATABASE nf_db")
      h.sql("CREATE TABLE nf_t (k INT, v STRING) PARTITIONED BY " +
        "(p STRING) STORED AS PARQUET")
      h.sql("INSERT INTO nf_t PARTITION (p='a') VALUES (1, 'x'), (2, 'y')")
      h.sql("INSERT INTO nf_t PARTITION (p) VALUES (3, 'z', 'b'), " +
        "(4, 'w', 'c')")
      h.sql("UPDATE nf_t SET v = 'u' WHERE k = 1")
      h.sql("DELETE FROM nf_t WHERE k = 4")
      h.sql("MERGE INTO nf_t t USING (SELECT 2 AS k, 'm' AS v, 'a' AS p " +
        "UNION ALL SELECT 5, 'n', 'd') s ON t.k = s.k WHEN MATCHED THEN " +
        "UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT VALUES " +
        "(s.k, s.v, s.p)")
      h.sql(s"EXPORT TABLE nf_t TO '$dir/export'")
      h.sql(s"IMPORT TABLE nf_imp FROM '$dir/export'")
    } finally {
      rec.stop()
      spark.conf.unset("spark.graft.metastore.path")
    }
    val jfr = Files.createTempFile("graft_nofork", ".jfr")
    rec.dump(jfr)
    rec.close()
    val spawns = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .map(e => e.getString("command") + " from " +
        Option(e.getStackTrace).map(_.getFrames.asScala.take(12)
          .map(_.getMethod.getName).mkString("<")).getOrElse("?"))
    Files.delete(jfr)
    assert(spawns.isEmpty, spawns.mkString("\n"))
    try {
      assert(spark.newSession().table("nf_imp").collect()
        .map(_.mkString(",")).sorted.toSeq ===
        Seq("1,u,a", "2,m,a", "3,z,b", "5,n,d"))
      // the bits Hadoop's forked chmod gives (fs.permissions.umask-mode
      // 022), read from a run on the forking FileSystem
      val bits = Map("dir" -> "rwxr-xr-x", "file" -> "rw-r--r--",
        "crc" -> "rw-r--r--")
      Seq("spark-warehouse/nf_t", "spark-warehouse/nf_imp",
          "spark-warehouse/nf_db.db", s"$dir/export",
          s"$dir/metastore.ledger").foreach { root =>
        permsUnder(root).foreach { case (kind, ps) =>
          assert(ps === Set(bits(kind)), s"$kind under $root")
        }
      }
      val data = Files.walk(Paths.get("spark-warehouse/nf_t")).iterator()
        .asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      assert(data.nonEmpty)
      data.foreach(f => assert(
        Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), f))
    } finally {
      Seq("nf_t", "nf_imp").foreach(freshTable)
      spark.sql("DROP DATABASE IF EXISTS nf_db CASCADE")
    }
  }

  test("a rename onto an existing file returns false and keeps both " +
      "files") {
    val dir = Files.createTempDirectory("graft_rename")
    val (src, dst) = (dir.resolve("src"), dir.resolve("dst"))
    Files.writeString(src, "new")
    Files.writeString(dst, "old")
    assert(!localFs.rename(new Path(src.toUri), new Path(dst.toUri)))
    assert(Files.readString(src) === "new")
    assert(Files.readString(dst) === "old")
    val moved = dir.resolve("moved")
    assert(localFs.rename(new Path(src.toUri), new Path(moved.toUri)))
    assert(Files.readString(moved) === "new" && !Files.exists(src))
  }
}
