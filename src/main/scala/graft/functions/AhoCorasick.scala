package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Multi-pattern substring search: the classic Aho–Corasick automaton
  * (Aho & Corasick, CACM 1975) as a plan-constant kernel. One scan of
  * the text reports every pattern that occurs ANYWHERE in it —
  * per-row cost O(len + matches) regardless of how many patterns the
  * list holds, where P separate `contains`/`regexp` probes cost
  * O(P·len) and fall out of codegen CSE (each probe re-walks the
  * text). This is the banned-phrase / badwords scan every web-scale
  * curation pipeline runs (the C4 cleanup's "List of Dirty, Naughty
  * …" filter); at 100 TB the list is thousands of phrases and the
  * naive form is a 1000× CPU regression, not a style choice.
  *
  * The automaton is built ONCE on the driver from the phrase list
  * (goto trie + BFS failure links + output sets, the textbook
  * construction) and rides into codegen as an object-typed plan
  * constant — the [[BpeExpressions]] / [[DsirExpressions]] model-
  * object discipline. Matching is SUBSTRING semantics, deliberately:
  * it is exactly replayable cross-engine as `contains(text, phrase)`
  * (the DuckDB oracle's naive form), and it is what UT1-style lists
  * specify. Word-boundary semantics (which would spare
  * "classification" from a "class" rule) are a different contract —
  * compose with tokenization upstream if needed.
  */
object AhoCorasick {

  /** Immutable matcher: phrases are deduplicated and stored sorted (by
    * CODE POINTS, matching UTF-8 engines' ORDER BY — see
    * [[graft.core.Exact.codePointOrdering]]), so the match output (ids
    * in ascending order) is already in sorted phrase order —
    * deterministic without a per-row sort, and cross-engine stable
    * even for supplementary-plane phrases.
    */
  final class Automaton(phraseList: Seq[String]) extends Serializable {
    require(phraseList.nonEmpty, "empty phrase list")
    require(phraseList.forall(_.nonEmpty), "empty phrase in list")

    val phrases: Array[String] =
      phraseList.distinct.sorted(graft.core.Exact.codePointOrdering).toArray
    private val nPhrases = phrases.length

    // trie: per-node char->node transition maps, failure links, and
    // the set of phrase ids ending at (or reachable by failure from)
    // each node. Built eagerly; all arrays are plain and serializable.
    private val gotoMaps = new java.util.ArrayList[java.util.HashMap[Character, Integer]]()
    private val failLink = new java.util.ArrayList[Integer]()
    private val outputs = new java.util.ArrayList[Array[Int]]()

    private def newNode(): Int = {
      gotoMaps.add(new java.util.HashMap[Character, Integer]())
      failLink.add(0)
      outputs.add(Array.empty[Int])
      gotoMaps.size() - 1
    }

    {
      newNode() // root = 0
      // phase 1: trie of all phrases
      val ends = new Array[Int](nPhrases)
      var p = 0
      while (p < nPhrases) {
        var node = 0
        val s = phrases(p)
        var i = 0
        while (i < s.length) {
          val c = s.charAt(i)
          val next = gotoMaps.get(node).get(c)
          node = if (next == null) {
            val nn = newNode()
            gotoMaps.get(node).put(c, nn)
            nn
          } else next.intValue()
          i += 1
        }
        ends(p) = node
        p += 1
      }
      p = 0
      while (p < nPhrases) {
        outputs.set(ends(p), outputs.get(ends(p)) :+ p)
        p += 1
      }
      // phase 2: BFS failure links; output(n) ∪= output(fail(n))
      val queue = new java.util.ArrayDeque[Integer]()
      gotoMaps.get(0).forEach { (_, n) => failLink.set(n, 0); queue.add(n) }
      while (!queue.isEmpty) {
        val node = queue.poll().intValue()
        gotoMaps.get(node).forEach { (c, next) =>
          var f = failLink.get(node).intValue()
          var hop = gotoMaps.get(f).get(c)
          while (f != 0 && hop == null) {
            f = failLink.get(f).intValue()
            hop = gotoMaps.get(f).get(c)
          }
          val fl = if (hop != null && hop.intValue() != next.intValue())
            hop.intValue() else 0
          failLink.set(next, fl)
          if (outputs.get(fl).nonEmpty)
            outputs.set(next.intValue(),
              (outputs.get(next) ++ outputs.get(fl)).distinct.sorted)
          queue.add(next)
        }
      }
    }

    /** Distinct phrases occurring in `text`, ascending (= sorted)
      * phrase order.
      */
    def matchDistinct(text: UTF8String): ArrayData = {
      val s = text.toString
      val seen = new Array[Boolean](nPhrases)
      var nSeen = 0
      var node = 0
      var i = 0
      while (i < s.length && nSeen < nPhrases) {
        val c = s.charAt(i)
        var next = gotoMaps.get(node).get(c)
        while (node != 0 && next == null) {
          node = failLink.get(node).intValue()
          next = gotoMaps.get(node).get(c)
        }
        if (next != null) {
          node = next.intValue()
          val out = outputs.get(node)
          var k = 0
          while (k < out.length) {
            if (!seen(out(k))) { seen(out(k)) = true; nSeen += 1 }
            k += 1
          }
        }
        i += 1
      }
      val hits = new Array[Any](nSeen)
      var p = 0
      var w = 0
      while (p < nPhrases) {
        if (seen(p)) { hits(w) = UTF8String.fromString(phrases(p)); w += 1 }
        p += 1
      }
      new GenericArrayData(hits)
    }

    // value-equal on the phrase set, so two scans built from the same
    // list are one expression to CSE and the cache manager
    override def equals(other: Any): Boolean = other match {
      case a: Automaton => phrases.sameElements(a.phrases)
      case _ => false
    }
    override def hashCode: Int = phrases.toSeq.hashCode
  }

  /** [[Automaton.matchDistinct]] as a static call. */
  def matchDistinct(text: UTF8String, automaton: Automaton): ArrayData =
    automaton.matchDistinct(text)
}

object AcExpressions {
  /** `graft_ac_matches(text)`: sorted distinct phrases from the
    * plan-constant list occurring in `text` (substring semantics).
    */
  def acMatches(text: Column, phrases: Seq[String]): Column =
    Kernel.column("graft_ac_matches", AhoCorasick, "matchDistinct",
      ArrayType(StringType, containsNull = false), Seq(text), Seq(StringType),
      Seq(new AhoCorasick.Automaton(phrases)))
}
