package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The entries of `m` a run filtered by `only` covers: all of them
    * with no filter, else those whose name starts with ANY prefix — so
    * the dumped queries and the oracle SQL written beside them are the
    * same names.
    */
  def selected[V](m: Map[String, V], only: Option[Seq[String]]): Map[String, V] =
    m.filter { case (name, _) => only.forall(_.exists(name.startsWith)) }

  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [onlyQueryPrefix]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    // comma-separated name-prefix filter, same semantics as Bench's
    // SPARK_GRAFT_ONLY (a query runs if it starts with ANY prefix)
    val only = args.lift(2).map(_.split(",").toSeq)
    val spark = LocalSession.local()
    new java.io.File(outDir).mkdirs()
    val summary = scala.collection.mutable.LinkedHashMap.empty[String, (Boolean, Double, String)]
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // machine-readable run summary (r10 verdict directive 5): which
    // dumps exist, how long each took, and any dump-time failure — so
    // the driver/judge never has to scrape this main's stdout.
    // REWRITTEN AFTER EVERY QUERY (r11 directive 7): a mid-run crash
    // or kill leaves the partial record of everything that did finish,
    // not an empty directory.
    def writeSummary(): Unit = {
      val sjson = summary.map { case (k, (ok, sec, err)) =>
        s"${q(k)}: {\"ok\": $ok, \"sec\": ${fmt(sec)}" +
          (if (err.nonEmpty) s", \"error\": ${q(err)}" else "") + "}"
      }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/verify_summary.json"), sjson)
    }
    selected(SparkEntry.queries, only)
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try LocalSession.inJobGroup(spark, name) {
          val df = fn(spark, sfDir)
          // The driver's pandas comparator hashes cells; array/struct/map
          // cells are unhashable and null out the whole row (q119, r9).
          // Fail loudly at dump time instead of silently shipping an
          // unverifiable query.
          val complex = df.schema.fields.filter(f =>
            f.dataType.typeName match {
              case "array" | "struct" | "map" => true
              case _ => false
            })
          require(complex.isEmpty,
            s"$name emits non-scalar columns the driver gate cannot hash: " +
              complex.map(f => s"${f.name}:${f.dataType.simpleString}")
                .mkString(", "))
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          summary(name) = (true, (System.nanoTime() - t0) / 1e9, "")
        } catch { case e: Throwable =>
          println(s"[verify] $name failed: ${e.getMessage}")
          summary(name) = (false, (System.nanoTime() - t0) / 1e9,
            Option(e.getMessage).getOrElse(e.getClass.getName))
        }
        println(f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
        writeSummary()
        graft.Tables.releaseOperatorCaches(spark)
      }
    val json = selected(SparkEntry.oracleSql, only)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
