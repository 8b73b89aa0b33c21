package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-pattern matching (Aho & Corasick 1975 — the public
  * textbook automaton): match a whole blocklist against each document in
  * ONE pass over the text, O(len + matches), instead of K independent
  * `contains` scans — the per-row kernel a content-filter pass (NSFW /
  * banned-phrase / compliance lists, typically hundreds to thousands of
  * patterns) needs at corpus scale.
  *
  * The automaton is built once per `HashFunctions.multiPatternCount` call
  * (driver side), ships with the serialized plan as a literal, and is
  * shared read-only by every row of every partition — no per-row setup,
  * no broadcast round-trip. Match semantics: every occurrence of every
  * pattern (standard AC — output links surface patterns that are proper
  * suffixes of others, e.g. "scan" inside "slow scan"), counted at its
  * end position; overlapping
  * occurrences of DIFFERENT patterns all count. A pattern with no proper
  * border cannot overlap itself, so per-pattern counts equal the
  * left-to-right non-overlapping count a `replace`-based SQL oracle
  * computes (asserted by the spec for the shipped blocklist).
  */
object AhoCorasick {

  /** The built goto/fail/output automaton as flat serializable arrays.
    * States are dense ints; transitions are per-state sorted char/target
    * parallel arrays probed by binary search (pattern alphabets are tiny,
    * so the arrays are short and cache-resident). `outIds(s)` carries the
    * ids of EVERY pattern ending at state `s`, with fail-chain outputs
    * pre-merged at build time — matching never walks fail links for
    * output, only for missing transitions. */
  final class Automaton private[AhoCorasick] (
      val nPatterns: Int,
      val childChars: Array[Array[Char]],
      val childTargets: Array[Array[Int]],
      val fail: Array[Int],
      val outIds: Array[Array[Int]]) extends Serializable {

    private def step(state: Int, c: Char): Int = {
      var s = state
      while (true) {
        val cs = childChars(s)
        val idx = java.util.Arrays.binarySearch(cs, c)
        if (idx >= 0) return childTargets(s)(idx)
        if (s == 0) return 0
        s = fail(s)
      }
      0 // unreachable
    }

    /** Count total occurrences and distinct patterns hit in `text`. */
    def countMatches(text: String): (Long, Long) = {
      var occ = 0L
      val hit = new Array[Boolean](nPatterns)
      var state = 0
      var i = 0
      while (i < text.length) {
        state = step(state, text.charAt(i))
        val ids = outIds(state)
        var j = 0
        while (j < ids.length) { occ += 1; hit(ids(j)) = true; j += 1 }
        i += 1
      }
      var nHit = 0L
      var p = 0
      while (p < nPatterns) { if (hit(p)) nHit += 1; p += 1 }
      (nHit, occ)
    }
  }

  /** Standard construction: trie, then BFS fail links with output-set
    * merging (out(s) = own(s) ∪ out(fail(s))). */
  def build(patterns: Seq[String]): Automaton = {
    require(patterns.nonEmpty, "empty blocklist")
    require(patterns.forall(_.nonEmpty), "empty pattern in blocklist")
    require(patterns.distinct.length == patterns.length, "duplicate pattern")
    val children = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.SortedMap[Char, Int]())
    val ends = scala.collection.mutable.ArrayBuffer[List[Int]](Nil)
    patterns.zipWithIndex.foreach { case (p, id) =>
      var s = 0
      p.foreach { c =>
        s = children(s).getOrElseUpdate(c, {
          children += scala.collection.mutable.SortedMap[Char, Int]()
          ends += Nil
          children.length - 1
        })
      }
      ends(s) = id :: ends(s)
    }
    val n = children.length
    val fail = new Array[Int](n)
    val out = Array.fill(n)(List.empty[Int])
    val queue = scala.collection.mutable.Queue[Int]()
    children(0).foreach { case (_, t) => fail(t) = 0; queue += t }
    for (s <- 0 until n) out(s) = ends(s)
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      out(s) = ends(s) ::: out(fail(s))
      children(s).foreach { case (c, t) =>
        var f = fail(s)
        while (f != 0 && !children(f).contains(c)) f = fail(f)
        fail(t) = children(f).get(c).filter(_ != t).getOrElse(0)
        queue += t
      }
    }
    new Automaton(
      patterns.length,
      children.map(_.keys.toArray).toArray,
      children.map(_.values.toArray).toArray,
      fail,
      out.map(_.sorted.toArray))
  }

  /** Matching kernel entry point for codegen: (n_patterns_hit, n_occ). */
  def countMatchesRow(text: UTF8String, a: Automaton): GenericInternalRow = {
    val (nHit, occ) = a.countMatches(text.toString)
    new GenericInternalRow(Array[Any](nHit, occ))
  }
}
