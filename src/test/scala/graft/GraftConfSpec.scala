package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine's conf surface stays in one place: every `"graft.<key>"`
  * string literal under src/main sits in GraftConf.scala, and those
  * literals are exactly GraftConf's key set. A key read ad hoc anywhere
  * else fails here.
  */
class GraftConfSpec extends AnyFunSuite {

  private val keyLiteral = "\"(graft\\.[a-zA-Z.]+)\"".r

  private def literals(): Seq[(Path, String)] = {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repo root: no ${main.toAbsolutePath}")
    val files = Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toList
    files.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      keyLiteral.findAllMatchIn(text).map(m => p -> m.group(1))
    }
  }

  test("every graft.* key literal in src/main is in GraftConf and is one of its keys") {
    val found = literals()
    val outside = found.filterNot(_._1.getFileName.toString == "GraftConf.scala")
    assert(outside.isEmpty, s"graft.* keys outside GraftConf: ${outside.mkString(", ")}")
    val names = GraftConf.all.map(_.name)
    assert(names.distinct.size == names.size, s"duplicate keys in GraftConf.all: $names")
    assert(found.map(_._2).toSet == names.toSet,
      s"GraftConf literals ${found.map(_._2).toSet} != GraftConf.all ${names.toSet}")
  }
}
