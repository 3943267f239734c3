package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import graft.sources.ParquetSource

/** Schema rules every ORACLE-GATED output must satisfy before it is dumped
  * for the driver's compare. Round-8 lesson: the driver hashes STRINGIFIED
  * cells, fetching the Spark parquet through arrow (decimals keep their
  * declared scale — `Decimal('154665.40')`) and the DuckDB oracle through a
  * float path (`154665.4`), so ANY DecimalType column whose data ever has a
  * trailing-zero fraction hash-mismatches despite exactly equal values
  * (s18/st12 went red on 1,502/14,571 such prices; a11 was green only
  * because its 3 medians happened to end in non-zero cents). Decimals are
  * fine INSIDE a plan — exact money math is the point — but the gated
  * output surface must cast them to double. `tools/driver_parity.py`
  * replicates the driver's asymmetric fetch for local pre-checks.
  */
object GateSchema {
  import org.apache.spark.sql.types._
  /** All paths in `dt` (dotted into structs/arrays/maps) typed Decimal. */
  def decimalPaths(dt: DataType, path: String = ""): Seq[String] = dt match {
    case _: DecimalType => Seq(if (path.isEmpty) "<root>" else path)
    case s: StructType =>
      s.fields.toSeq.flatMap(f =>
        decimalPaths(f.dataType, if (path.isEmpty) f.name else s"$path.${f.name}"))
    case a: ArrayType => decimalPaths(a.elementType, s"$path[]")
    case m: MapType =>
      decimalPaths(m.keyType, s"$path{key}") ++ decimalPaths(m.valueType, s"$path{value}")
    case _ => Nil
  }
}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: regex over query names (dev loop — check a few
    // queries without dumping all of them). Driver passes two args.
    val nameFilter = if (args.length > 2) args(2).r else ".*".r
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Schema-gate violations are tracked SEPARATELY from per-query runtime
    // failures: the generic catch keeps one broken query from zeroing the
    // whole dump, but a DecimalType regression slipping through as "just a
    // missing dump" (driver reds it two steps later) is too quiet — collect
    // the names and fail the Verify run itself at the end.
    final class GateViolation(msg: String) extends RuntimeException(msg)
    val gateViolations = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (nameFilter.findFirstIn(name).isDefined) {
        try {
          val df = fn(spark, sfDir)
          if (SparkEntry.oracleSql.contains(name)) {
            val dec = GateSchema.decimalPaths(df.schema)
            if (dec.nonEmpty) throw new GateViolation(
              s"gated output has DecimalType at ${dec.mkString(", ")} — " +
              "stringified-hash hazard (see GateSchema scaladoc); " +
              "cast to double on BOTH sides")
          }
          df.coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          // Oracle-margin guards (e.g. t13's 16-round unroll bound) run
          // against the written result — a violation must fail the dump
          // loudly, not surface as a silent oracle mismatch. The written
          // parquet is DELETED on violation: for rows-only queries the
          // driver's check is existence + rows > 0, so a dump that
          // survives its failed guard would still read as a pass.
          val guards: Seq[org.apache.spark.sql.DataFrame => Unit] =
            SparkEntry.resultChecks.get(name).toSeq ++
              SparkEntry.resultChecksSf.get(name).toSeq
                .map(c => (r: org.apache.spark.sql.DataFrame) => c(spark, sfDir, r))
          guards.foreach { check =>
            try check(ParquetSource.read(spark, s"$outDir/$name"))
            catch {
              case e: Throwable =>
                graft.sources.ArtifactStore.deleteRecursively(s"$outDir/$name")
                throw e
            }
          }
        } catch {
          case g: GateViolation =>
            gateViolations += name -> g.getMessage
            System.err.println(s"[verify] $name GATE VIOLATION: ${g.getMessage}")
          case NonFatal(e) =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (gateViolations.nonEmpty) {
      System.err.println(s"[verify] ${gateViolations.size} schema-gate " +
        s"violation(s): ${gateViolations.keys.mkString(", ")} — failing run")
      sys.exit(2)
    }
  }
}
