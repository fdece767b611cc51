package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** No source writes a session conf except [[GraftSession]] (which sets
  * confs only on its own clones) and `Tables.readNanosAsLong`, whose
  * Scaladoc says why that one flag stays session-wide. An operator or a
  * test that needs a conf runs under [[GraftSession.scoped]].
  *
  * No program source stores a relation except through [[Checkpoints]]: a
  * relation read more than once is a [[Memo]] or a cut with one owner.
  * Tests keep their own persists.
  */
class ConfGuardSpec extends AnyFunSuite {

  private val confWrite = raw"conf\.(set|unset)\(|setConfString\(".r
  private val store = raw"\.persist\(|\.cache\(\)|unpersist\(".r

  private def sources(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("session confs are written only by GraftSession and the nanosAsLong setter") {
    val writes = for {
      file <- sources("src/main/scala") ++ sources("src/test/scala")
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      if confWrite.findFirstIn(line).nonEmpty
      if file.getFileName.toString != "GraftSession.scala"
    } yield (file.getFileName.toString, line.trim, s"$file:${i + 1}: ${line.trim}")
    val (nanos, others) = writes.partition { case (f, line, _) =>
      f == "Tables.scala" && line.contains("spark.sql.legacy.parquet.nanosAsLong")
    }
    assert(others.isEmpty, "use GraftSession.scoped instead:\n" +
      others.map(_._3).mkString("\n"))
    assert(nanos.size == 1, nanos.map(_._3).mkString("\n"))
  }

  test("relations are stored only by Checkpoints") {
    val stores = for {
      file <- sources("src/main/scala")
      if file.getFileName.toString != "Checkpoints.scala"
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      if store.findFirstIn(line).nonEmpty
    } yield s"$file:${i + 1}: ${line.trim}"
    assert(stores.isEmpty,
      "use a Memo or an owned Checkpoints.cut instead:\n" + stores.mkString("\n"))
  }
}
