package graft

import java.nio.file.{Files, Path}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = {} // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fresh directory under java.io.tmpdir whose whole tree is deleted
    * when the JVM exits (tests run in a forked JVM, so that is the end
    * of the test run). */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      if (Files.exists(dir)) {
        val s = Files.walk(dir)
        try s.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally s.close()
      }
    }
    dir
  }

  /** Parquet data-file count per partition directory of a managed
    * table — the compaction metric. */
  def filesPerPartition(spark: SparkSession,
                        table: String): Map[String, Int] = {
    val loc = new HPath(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table)).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // key by the FULL partition path relative to the table root:
    // multi-level layouts (band=N/bucket=M) must not collide on the
    // leaf directory name or counts silently overwrite each other
    def walk(p: HPath, prefix: String): Seq[(String, Int)] = {
      val (dirs, files) = fs.listStatus(p).partition(_.isDirectory)
      val here =
        if (prefix.nonEmpty)
          Seq(prefix -> files.count(_.getPath.getName.endsWith(".parquet")))
        else Seq.empty
      here.filter(_._2 > 0) ++ dirs.flatMap { d =>
        val child = if (prefix.isEmpty) d.getPath.getName
                    else s"$prefix/${d.getPath.getName}"
        walk(d.getPath, child)
      }
    }
    walk(loc, "").toMap
  }
}
