package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.{ClassReader, ClassVisitor, Label, MethodVisitor, Opcodes}
import org.scalatest.funsuite.AnyFunSuite

/** Every batch parquet read in `src/main` goes through
  * [[graft.sources.ParquetSource]], whose footer read runs no Spark job,
  * and every parquet read, batch or stream, names
  * [[graft.sources.ParquetFormat]] (`format(...).load`) rather than
  * Spark's own format (`.parquet`). The check reads the compiled classes,
  * not the source text, so an alias of a reader
  * (`val r = s.read; r.parquet(p)`) is caught as well as a chained call.
  * The one `.parquet` read allowed is `s17_schema_evolution`'s
  * `mergeSchema` read, whose point is Spark's schema merge.
  */
class OneReadPathSpec extends AnyFunSuite {

  /** (source file, line, method) of every `DataFrameReader` or
    * `DataStreamReader` call named `parquet` or `load` compiled into the
    * classes under `root`.
    */
  private def readerCalls(root: Path): Seq[(String, Int, String)] = {
    val calls = ArrayBuffer.empty[(String, Int, String)]
    val classes = {
      val st = Files.walk(root)
      try st.iterator.asScala.filter(_.toString.endsWith(".class")).toVector finally st.close()
    }
    classes.foreach { file =>
      var source = "?"
      new ClassReader(Files.readAllBytes(file)).accept(new ClassVisitor(Opcodes.ASM9) {
        override def visitSource(s: String, debug: String): Unit = source = s
        override def visitMethod(access: Int, name: String, desc: String, sig: String,
            exceptions: Array[String]): MethodVisitor = new MethodVisitor(Opcodes.ASM9) {
          private var line = -1
          override def visitLineNumber(l: Int, start: Label): Unit = line = l
          override def visitMethodInsn(op: Int, owner: String, name: String, desc: String,
              itf: Boolean): Unit =
            if ((name == "parquet" || name == "load") &&
                (owner.endsWith("/DataFrameReader") || owner.endsWith("/DataStreamReader")))
              calls += ((source, line, s"${owner.split('/').last}.$name"))
        }
      }, 0)
    }
    calls.toSeq
  }

  test("src/main reads parquet only through ParquetSource, and merges schemas at one named site") {
    val root = Paths.get(classOf[graft.sources.ParquetSource.type].getProtectionDomain
      .getCodeSource.getLocation.toURI)
    val calls = readerCalls(root)
    val etl = Files.readAllLines(Paths.get("src/main/scala/graft/queries/Etl.scala")).asScala
    val mergeSite = etl.indexWhere(_.contains("""option("mergeSchema", "true")""")) + 1
    assert(mergeSite > 0, "the s17 mergeSchema read is gone from Etl.scala")
    // Non-vacuous: the helper's own load and the merge read are both seen.
    assert(calls.filter(_._1 == "ParquetSource.scala").map(_._3) === Seq("DataFrameReader.load"),
      calls)
    val merge = ("Etl.scala", mergeSite, "DataFrameReader.parquet")
    assert(calls.contains(merge), calls)
    val stray = calls.filter(c => c._3.endsWith(".parquet") && c != merge)
    assert(stray.isEmpty, s"parquet reads outside ParquetFormat: ${stray.mkString(", ")}")
    val batch = calls.filter(c => c._3 == "DataFrameReader.load" && c._1 != "ParquetSource.scala")
    assert(batch.isEmpty, s"batch loads outside ParquetSource: ${batch.mkString(", ")}")
  }
}
