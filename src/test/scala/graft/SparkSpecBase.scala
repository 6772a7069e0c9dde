package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (spark_guide.md: lazy val, not
  * per-test), built by the same `GraftSession` factory as the mains.
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  def sf(dir: String): String = s"/root/testdata/$dir"
  def tempDir(prefix: String): String = SparkSpecBase.tempDir(prefix)
}

object SparkSpecBase {
  /** Fixed at local[4] whatever SPARK_GRAFT_CPUS says: spec timings
    * and partition counts stay host-independent.
    */
  lazy val session: SparkSession = GraftSession.local(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.maxMetadataStringLength" -> "2000",
    "spark.sql.warehouse.dir" -> tempDir("graft_warehouse"))

  /** A fresh temp dir named `prefix…`, deleted when the JVM exits
    * (`TempDirs`), so a spec run leaves nothing under the temp dir.
    */
  def tempDir(prefix: String): String =
    graft.engine.TempDirs.deleteOnExit(
      java.nio.file.Files.createTempDirectory(prefix)).toString
}
