package graft.core

import java.lang.reflect.Modifier
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark under `perfbench/` wraps [[TableStore]] in a subclass,
  * `graft.core.TracedStore`, that overrides the entry points below to time
  * them. That subclass is compiled only by the benchmark's own build, so a
  * change to one of these signatures here would break the benchmark
  * without failing this build. This spec pins them: each method must still
  * exist with the same parameter and return types and must not be final,
  * and the table must name every method the subclass overrides.
  */
class TracedStoreContractSpec extends AnyFunSuite {
  private val Str = "java.lang.String"
  private val Df = "org.apache.spark.sql.Dataset<org.apache.spark.sql.Row>"
  private val FileSeq = "scala.collection.immutable.Seq<graft.core.TableStore$FileEntry>"
  private val Strs = "scala.collection.immutable.Seq<java.lang.String>"

  /** name -> (parameter types, return type), as Java reflection renders
    * the erased-with-generics signature. */
  private val overridden: Map[String, (Seq[String], String)] = Map(
    "manifests" -> (Seq(Str), "scala.collection.immutable.Seq<graft.core.TableStore$Manifest>"),
    "read" -> (Seq(Str), Df),
    "readVersion" -> (Seq(Str, "long"), Df),
    "readFiles" -> (Seq(Str, FileSeq), Df),
    "filesHitByKeys" -> (Seq(Str, Str, Df), s"scala.Tuple2<$FileSeq, $FileSeq>"),
    "commitFiles" -> (Seq(Str, FileSeq, s"scala.Option<$Df>", Str, Strs, Strs, "long"), "long"),
    "applyCdcMoR" -> (Seq(Str, Df, Strs, Str,
      "scala.Option<scala.Tuple2<java.lang.String, java.lang.Object>>"), "long"),
    "compact" -> (Seq(Str, "long"), "long"),
    "expireSnapshots" -> (Seq(Str, "int", "long"), "void"),
    "atomicWriteExclusive" -> (Seq("org.apache.hadoop.fs.Path", Str), "void"))

  test("TableStore can still be subclassed with its (SparkSession, warehouse) constructor") {
    val c = classOf[TableStore]
    assert(!Modifier.isFinal(c.getModifiers))
    assert(c.getConstructors.exists(_.getParameterTypes.map(_.getName).toSeq ==
      Seq("org.apache.spark.sql.SparkSession", Str)))
    // the subclass catches this to count lost compare-and-swap commits
    assert(classOf[Exception].isAssignableFrom(classOf[TableStore.CommitConflictException]))
  }

  test("every overridden TableStore method keeps its signature and stays overridable") {
    val methods = classOf[TableStore].getDeclaredMethods.toSeq
    overridden.foreach { case (name, (params, ret)) =>
      val same = methods.filter(_.getName == name)
      val sigs = same.map(m => (m.getGenericParameterTypes.map(_.getTypeName).toSeq,
        m.getGenericReturnType.getTypeName))
      val m = same.find(m =>
        m.getGenericParameterTypes.map(_.getTypeName).toSeq == params &&
          m.getGenericReturnType.getTypeName == ret)
      assert(m.isDefined, s"TableStore.$name${params.mkString("(", ", ", ")")}: $ret is gone; " +
        s"found ${sigs.mkString("; ")}")
      assert(!Modifier.isFinal(m.get.getModifiers), s"TableStore.$name is final")
      assert(!Modifier.isPrivate(m.get.getModifiers), s"TableStore.$name is private")
    }
  }

  test("the table names exactly the methods the benchmark's TracedStore overrides") {
    val src = Paths.get("perfbench/src/main/scala/graft/core/TracedStore.scala")
    assert(Files.isRegularFile(src), s"missing ${src.toAbsolutePath}")
    val names = """override\s+(?:private\[\w+\]\s+)?def\s+(\w+)""".r
      .findAllMatchIn(new String(Files.readAllBytes(src), "UTF-8")).map(_.group(1)).toSet
    assert(names == overridden.keySet)
  }
}
