package graft

import org.scalatest.funsuite.AnyFunSuite

/** Grep-anchored lock on the one-memo-mechanism rule: every driver-side
  * cache in src/main is a [[SessionMemo]] (which registers itself, so
  * [[SessionMemo.clearAll]] reaches it and its stopped-session sweep
  * covers it). A raw `TrieMap` / `ConcurrentHashMap` is allowed only in
  * SessionMemo.scala and in the registered exemptions below — state
  * that is not a memo. A new raw cache fails this spec: make it a
  * SessionMemo instead, or register it here with the reason it is not
  * a cache.
  */
class MemoInventorySpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala/graft")

  /** file (relative to src/main/scala/graft) -> expected number of
    * code lines naming `TrieMap` or `ConcurrentHashMap`.
    */
  private val registry: Map[String, Int] = Map(
    "SessionMemo.scala" -> 1,        // the one memo implementation
    "DT.scala" -> 1,                 // tables() name registry: user-registered names, not derived state
    "RuntimeTmp.scala" -> 2,         // per-JVM roundtrip dir sets, deleted by the shutdown hook
    "Bench.scala" -> 1,              // ShuffleMeter's per-stage byte map, a listener's running tally
    "tools/ScaleProbe.scala" -> 1,   // per-query metric map of one probe run
    "operators/Scale.scala" -> 1)    // eqFilterCounts: auto-index filter counters, state not a memo

  private def codeLines(p: java.nio.file.Path): Iterator[String] = {
    val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    src.linesIterator.filterNot { l =>
      val t = l.trim
      t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
    }
  }

  test("every TrieMap / ConcurrentHashMap in src/main is SessionMemo or an exemption") {
    import scala.jdk.CollectionConverters._
    val found = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        root.relativize(p).toString -> codeLines(p).count(l =>
          l.contains("TrieMap") || l.contains("ConcurrentHashMap"))
      }
      .filter(_._2 > 0)
      .toMap
    assert(found == registry,
      s"""raw-cache inventory drifted:
         |  unregistered: ${(found.toSet -- registry.toSet).toSeq.sorted}
         |  stale:        ${(registry.toSet -- found.toSet).toSeq.sorted}
         |A new cache must be a SessionMemo; register only state that is not a memo.""".stripMargin)
  }
}
