package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins the one definition of the streaming window aggregates: under
  * `graft/streaming` only `WindowAgg.scala` matches on `AggFunc` cases or
  * defines a value order, so the OVER and sliding operators cannot grow
  * their own copies of the aggregate semantics again.
  */
class WindowAggSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("only WindowAgg matches on AggFunc cases or defines cmp under graft/streaming") {
    val defines = """case\s+AggFunc\.|def\s+cmp\b""".r
    val owners = Files.list(Paths.get("src/main/scala/graft/streaming")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => defines.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .map(_.getFileName.toString).toSeq.sorted
    assert(owners == Seq("WindowAgg.scala"))
  }
}
