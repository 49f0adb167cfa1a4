package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One mechanism per concern: per-dataset memos and build counters live
  * in [[Memo]], so `src/main` declares no `ConcurrentHashMap` outside
  * `graft/Memo.scala`. A new hand-rolled memo map fails here. The maps
  * allowed by name are not memos: the pcap column readers' two bounded
  * string-interning tables and Bench's stage-listener counters. */
class OneMemoSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")

  private val allowed = Set(
    "graft/sources/pcap/PcapSchema.scala" -> "interned",
    "graft/sources/pcap/PcapSchema.scala" -> "internedBytes",
    "graft/Bench.scala" -> "stages")

  /** (file, declared name) of every ConcurrentHashMap construction: the
    * name is the nearest `val`/`var` before the `new`. */
  private def declarations(f: Path): Seq[(String, String)] = {
    val text = new String(Files.readAllBytes(f), "UTF-8")
    val rel = main.relativize(f).toString
    val decl = """(?:val|var)\s+(\w+)""".r
    """new\s+(?:java\.util\.concurrent\.)?ConcurrentHashMap\b""".r
      .findAllMatchIn(text).map { m =>
        rel -> decl.findAllMatchIn(text.substring(0, m.start)).toSeq
          .lastOption.map(_.group(1)).getOrElse("?")
      }.toSeq
  }

  test("src/main declares no ConcurrentHashMap outside graft/Memo.scala") {
    val files = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under $main")
    val found = files.flatMap(declarations)
    assert(found.exists(_._1 == "graft/Memo.scala"),
      "the registry itself must be found, or this scan is blind")
    val stray = found.filterNot(d =>
      d._1 == "graft/Memo.scala" || allowed(d))
    assert(stray.isEmpty,
      "memo maps outside graft.Memo (move them into the registry): " +
        stray.map { case (f, n) => s"$f:$n" }.mkString(", "))
  }
}
