package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Kernel
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair encoding over a MERGES TABLE — the real tokenizer behind
  * token budgeting (replacing the char-class proxy
  * [[TextFunctions.bpeTokenCount]], which remains the oracle-portable
  * twin). Model format is the public subword-nmt / GPT-2 `merges.txt`
  * shape: one `left right` pair per line, rank = line order; encoding
  * a word starts from its character symbols (optionally with the
  * `</w>` end-of-word marker fused onto the last one, the Sennrich
  * convention) and repeatedly applies the LOWEST-RANK adjacent merge
  * until none applies.
  *
  * Scale shape: the model is a driver-side object shipped to executors
  * as ONE plan reference object (like the IVF centroids) — never a
  * join side, never per-row state. Words repeat Zipf-style, so
  * encoding memoizes per executor in a bounded cache.
  */
final class BpeModel(val merges: Array[(String, String)],
    val endOfWord: Boolean = false) extends Serializable {

  @transient private lazy val rank: java.util.HashMap[String, Int] = {
    val m = new java.util.HashMap[String, Int](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      val (a, b) = merges(i)
      if (!m.containsKey(a + " " + b)) m.put(a + " " + b, i)
      i += 1
    }
    m
  }

  /** Per-executor memo; Zipf token distributions hit it constantly.
    * Cleared wholesale past the cap (simpler than LRU, same bound). */
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()
  private val CacheCap = 65536

  /** BPE-encode one word into subword tokens. */
  def encodeWord(word: String): Array[String] = {
    if (word.isEmpty) return Array.empty
    val hit = cache.get(word)
    if (hit != null) return hit
    var syms: Array[String] = word.map(_.toString).toArray
    if (endOfWord) syms(syms.length - 1) = syms(syms.length - 1) + "</w>"
    var done = false
    while (!done && syms.length > 1) {
      // lowest-rank adjacent pair present in the merges table
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrDefault(syms(i) + " " + syms(i + 1), Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (a, b) = merges(best)
        val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += a + b; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.toArray
      }
    }
    if (cache.size >= CacheCap) cache.clear()
    cache.put(word, syms)
    syms
  }

  /** Whitespace pre-tokenization, then per-word BPE. */
  def encode(text: String): Array[String] =
    text.split("\\s+").iterator.filter(_.nonEmpty).flatMap(encodeWord).toArray

  def countTokens(text: String): Long = {
    var n = 0L
    text.split("\\s+").foreach(w => if (w.nonEmpty) n += encodeWord(w).length)
    n
  }

  /** Codegen entry point (UTF8String in, primitive long out). */
  def countTokens(text: UTF8String): Long = countTokens(text.toString)
}

object BpeModel {

  /** Load a subword-nmt/GPT-2-style merges file: `#`-prefixed header
    * lines skipped, each remaining line `left right`. */
  def load(path: String, endOfWord: Boolean = false): BpeModel = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try {
      val merges = src.getLines()
        .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
        .map { l =>
          val sp = l.split(" ")
          require(sp.length == 2, s"malformed merges line: '$l'")
          (sp(0), sp(1))
        }.toArray
      new BpeModel(merges, endOfWord)
    } finally src.close()
  }

  /** Learn `numMerges` merges from a (small, driver-side) corpus — the
    * classic BPE training loop: count adjacent symbol pairs across the
    * word vocabulary, fuse the most frequent (first-seen order breaks
    * ties, deterministically), repeat. For building test/dev models —
    * production models load published merges via [[load]]. */
  def train(corpus: Seq[String], numMerges: Int,
      endOfWord: Boolean = false): BpeModel = {
    val vocab = scala.collection.mutable.LinkedHashMap.empty[List[String], Long]
    corpus.foreach(_.split("\\s+").foreach { w =>
      if (w.nonEmpty) {
        var syms = w.map(_.toString).toList
        if (endOfWord) syms = syms.init :+ (syms.last + "</w>")
        vocab(syms) = vocab.getOrElse(syms, 0L) + 1L
      }
    })
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var iter = 0
    var exhausted = false
    while (iter < numMerges && !exhausted) {
      val counts = scala.collection.mutable.LinkedHashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + n)
      }
      if (counts.isEmpty) exhausted = true
      else {
        val (best, _) = counts.maxBy(_._2) // LinkedHashMap: first-seen wins ties
        merges += best
        val fused = best._1 + best._2
        val next = scala.collection.mutable.LinkedHashMap.empty[List[String], Long]
        vocab.foreach { case (syms, n) =>
          val out = scala.collection.mutable.ListBuffer.empty[String]
          var rest = syms
          while (rest.nonEmpty) rest match {
            case a :: b :: tl if a == best._1 && b == best._2 =>
              out += fused; rest = tl
            case a :: tl => out += a; rest = tl
            case Nil => ()
          }
          val k = out.toList
          next(k) = next.getOrElse(k, 0L) + n
        }
        vocab.clear(); vocab ++= next
        iter += 1
      }
    }
    new BpeModel(merges.toArray, endOfWord)
  }
}

object Bpe {
  /** Column API: BPE token count under `model`. */
  def tokenCount(text: Column, model: BpeModel): Column =
    Kernel.method(model, "countTokens", LongType, text -> StringType)
}
