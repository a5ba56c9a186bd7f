package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
object SparkSpec {
  lazy val spark: SparkSession = LocalSession.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Create a temp dir that is deleted when the test JVM exits, so
    * `sbt test` leaves no `graft_*` litter in `/tmp` (same pattern as
    * SharedArtifacts.registerCleanup).
    */
  def tempDir(prefix: String): String = {
    import java.nio.file.{Files, Path}
    val p = Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      if (Files.exists(p)) {
        Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
      }
    }
    p.toString
  }
}
