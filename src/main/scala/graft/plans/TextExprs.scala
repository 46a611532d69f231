package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-sketch hot paths. */
object TextExprs {

  /** `winnow(text, k, w)` — the whole Schleimer–Wilkerson–Aiken
    * fingerprint selection as ONE plan node; see [[WinnowExpr]]. */
  def winnow(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowExpr(ColumnBridge.expression(text), k, w))

  /** `chunk_by_separator(text, sep, maxTokens)` — separator split +
    * token counts + prefix-sum bucketing + chunk re-assembly as ONE
    * plan node; see [[ChunkBySepExpr]]. */
  def chunkBySep(text: Column, separator: String, maxTokens: Int): Column =
    ColumnBridge.column(
      ChunkBySepExpr(ColumnBridge.expression(text), separator, maxTokens))

  /** `shingles(text, n, distinct)` — space-joined word n-grams as ONE
    * plan node; see [[ShinglesExpr]]. */
  def shingles(text: Column, n: Int, distinct: Boolean): Column =
    ColumnBridge.column(ShinglesExpr(ColumnBridge.expression(text), n, distinct))

  /** `match_terms(text)` against a plan-time constant term list — see
    * [[MultiMatchExpr]]. */
  def matchTerms(text: Column, terms: Seq[String]): Column =
    ColumnBridge.column(
      MultiMatchExpr(ColumnBridge.expression(text), terms.toVector))

  /** `minhash_sig(text, n, k)` — the k-hash MinHash signature of a
    * document's word n-gram shingles as ONE plan node; see
    * [[MinHashSigExpr]]. */
  def minhashSig(text: Column, n: Int, k: Int): Column =
    ColumnBridge.column(MinHashSigExpr(ColumnBridge.expression(text), n, k))
}

/** Multi-pattern substring matching against a constant term list — the
  * blocklist/allowlist scan of a training-data filter (bad-word lists,
  * contamination markers, license strings). Returns the DISTINCT terms
  * that occur as substrings, in TERM-LIST order — a pure function of
  * (text, terms) the oracle replays as
  * `list_filter(terms, t -> contains(text, t))`.
  *
  * One Aho–Corasick pass: the automaton (goto trie + BFS failure links
  * + dictionary suffix links) is built ONCE per executor from the term
  * list riding in the expression (a transient lazy val, like the
  * PQ codebooks) and every row costs O(|text| + hits) regardless of
  * list size — where the `LIKE any`/regex-alternation formulations
  * scale O(|text|·|terms|) and made 10k-term blocklists corpus-scan
  * bottlenecks. Matching is exact-case substring containment;
  * normalize both sides upstream for case-insensitive or
  * word-boundary semantics. NULL text → NULL; terms must be non-empty
  * strings (an empty pattern matches everywhere and means a broken
  * list). CodegenFallback: one dispatch per row amortized over the
  * whole scan. `terms` is a Seq, NOT an Array: case-class equality on
  * an Array is reference-based, which would break Catalyst
  * canonicalization/subexpression elimination — two identical
  * match_terms calls in one query would each run their own scan. */
case class MultiMatchExpr(child: Expression, terms: Seq[String])
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {

  require(terms.nonEmpty, "match_terms: empty term list")
  require(terms.forall(t => t != null && t.nonEmpty),
    "match_terms: terms must be non-empty strings")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "match_terms"
  override def nullable: Boolean = true

  // Aho–Corasick automaton: per-node char→child maps, BFS failure
  // links, and per-node aggregated term-id hit lists (dictionary links
  // collapsed into the node at build time so the scan never walks them)
  @transient private lazy val automaton: MultiMatchExpr.Automaton =
    MultiMatchExpr.build(terms)

  override protected def nullSafeEval(t: Any): Any = {
    val a = automaton
    val s = t.toString
    val found = new Array[Boolean](terms.length)
    var remaining = terms.length
    var node = 0
    var i = 0
    val n = s.length
    while (i < n && remaining > 0) {
      val c = s.charAt(i)
      var nxt = a.children(node).getOrElse(c, -1)
      while (nxt < 0 && node != 0) {
        node = a.fail(node)
        nxt = a.children(node).getOrElse(c, -1)
      }
      node = if (nxt >= 0) nxt else 0
      val hits = a.hits(node)
      var h = 0
      while (h < hits.length) {
        if (!found(hits(h))) { found(hits(h)) = true; remaining -= 1 }
        h += 1
      }
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var ti = 0
    while (ti < terms.length) {
      if (found(ti)) out += UTF8String.fromString(terms(ti))
      ti += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): MultiMatchExpr =
    copy(child = newChild)
}

object MultiMatchExpr {
  private[plans] final class Automaton(
      val children: Array[scala.collection.immutable.Map[Char, Int]],
      val fail: Array[Int],
      val hits: Array[Array[Int]])

  private[plans] def build(terms: Seq[String]): Automaton = {
    val children = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.Map[Char, Int]())
    val ends = scala.collection.mutable.ArrayBuffer(List.empty[Int])
    terms.zipWithIndex.foreach { case (t, ti) =>
      var node = 0
      t.foreach { c =>
        node = children(node).getOrElseUpdate(c, {
          children += scala.collection.mutable.Map[Char, Int]()
          ends += Nil
          children.length - 1
        })
      }
      ends(node) = ti :: ends(node)
    }
    val n = children.length
    val fail = new Array[Int](n)
    val hits = new Array[List[Int]](n)
    var i = 0
    while (i < n) { hits(i) = ends(i); i += 1 }
    val queue = scala.collection.mutable.Queue[Int]()
    children(0).values.foreach { c => fail(c) = 0; queue += c }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      // dictionary links collapsed: a node inherits its fail target's
      // hit list, so the scan reports every suffix-term in O(hits)
      hits(u) = hits(u) ::: hits(fail(u))
      children(u).foreach { case (c, v) =>
        // fail(u) is strictly shallower than u, so the node found here
        // can never be v itself
        var f = fail(u)
        while (f != 0 && !children(f).contains(c)) f = fail(f)
        fail(v) = children(f).getOrElse(c, 0)
        queue += v
      }
    }
    new Automaton(children.map(_.toMap).toArray, fail,
      hits.map(_.distinct.sorted.toArray))
  }
}

/** One-pass winnowing fingerprint selection (Schleimer et al. 2003).
  *
  * Bit-identical to the Column-expression formulation it replaces —
  * tokens = split on single space with trailing empties kept, shingle
  * hash = lowercase-hex md5 of the space-joined k tokens, window j
  * (1-based, j ≤ max(nsh−w+1, 1)) covers hash positions
  * [j, min(j+w−1, nsh)], selection is the window minimum by
  * (hash ASC, position DESC) (the paper's rightmost-tie density rule),
  * output is the distinct selected (pos, fp) pairs — and to the DuckDB
  * oracle replay (row_number over (hash, pos DESC)).
  *
  * Why native: the HOF formulation (`transform(windows, j ⇒ array_min(
  * transform(sequence(j,…), p ⇒ struct(element_at(hs, p), −p))))`) is
  * not just interpreted — Catalyst inlines the PRODUCING projections
  * into every lambda reference, so each `element_at(hs, p)` re-derives
  * the entire md5 hash array, whose own lambda re-derives `split(text)`
  * per element: O(windows · w · shingles · k) string splits per
  * document where the algorithm needs ONE. Measured: q_text_winnow at
  * sf0.1 went from >240 s (timeout) to sub-second plan time. Here the
  * text is split once, each shingle hashed once, and the windowed
  * argmin runs as a tight O(shingles · w) comparison loop (w is a small
  * constant; the paper's O(n) ring buffer buys nothing at w=4).
  *
  * CodegenFallback like [[HashEmbedExpr]]: one virtual dispatch per row
  * amortized over the whole selection loop. NULL text → NULL. Fewer
  * than k tokens → empty array (no shingles). Returns
  * array<struct<pos: long, fp: string>> with pos the 1-based shingle
  * position, ordered by first selection (callers explode; row order is
  * immaterial downstream). */
case class WinnowExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {

  require(k > 0 && w > 0, s"winnow: need k > 0 and w > 0, got k=$k w=$w")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("fp", StringType, nullable = false))))
  override def prettyName: String = "winnow"
  override def nullable: Boolean = true

  override protected def nullSafeEval(t: Any): Any = {
    val toks = t.toString.split(" ", -1)
    val nsh = toks.length - (k - 1)
    if (nsh <= 0) return new GenericArrayData(Array.empty[Any])
    val md = WinnowExpr.digest.get()
    val hs = new Array[String](nsh)
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < nsh) {
      sb.setLength(0)
      var o = 0
      while (o < k) {
        if (o > 0) sb.append(' ')
        sb.append(toks(j + o))
        o += 1
      }
      md.reset()
      val d = md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new Array[Char](32)
      var b = 0
      while (b < 16) {
        hex(b * 2) = WinnowExpr.hexChars((d(b) >> 4) & 0xf)
        hex(b * 2 + 1) = WinnowExpr.hexChars(d(b) & 0xf)
        b += 1
      }
      hs(j) = new String(hex)
      j += 1
    }
    val nWin = math.max(nsh - (w - 1), 1)
    // LinkedHashSet: distinct positions in first-selection order — the
    // array_distinct-over-structs semantics of the old formulation
    val sel = new java.util.LinkedHashSet[Integer]
    j = 0
    while (j < nWin) {
      var best = j
      var p = j + 1
      val end = math.min(j + w, nsh)
      while (p < end) {
        // <= : equal hash at a LARGER position wins (rightmost tie)
        if (hs(p).compareTo(hs(best)) <= 0) best = p
        p += 1
      }
      sel.add(best)
      j += 1
    }
    val out = new Array[Any](sel.size)
    val it = sel.iterator()
    var i = 0
    while (it.hasNext) {
      val p = it.next().intValue()
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        (p + 1).toLong, UTF8String.fromString(hs(p)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowExpr =
    copy(child = newChild)
}

object WinnowExpr {
  private val hexChars = "0123456789abcdef".toCharArray
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}

/** Space-joined word n-gram (shingle) construction as one plan node.
  *
  * Bit-identical to the `transform(sequence(…), j ⇒ concat_ws(" ",
  * element_at(ws, j), …))` Column formulation every shingle pipeline
  * used — tokens = split on single space with trailing empties kept,
  * shingle i = tokens[i..i+n−1] joined with one space, document order,
  * `distinct` = keep first occurrences only (`array_distinct`
  * semantics) — and therefore to the DuckDB oracles that replay the
  * same recipe. NULL text → NULL; fewer than n tokens → empty array.
  *
  * Why native: the lambda body's `element_at(ws, j+o)` references are
  * inlined by Catalyst with the producing `split(text)` projection
  * (references inside lambda functions are invisible to projection-
  * collapse cost checks — the [[WinnowExpr]] lesson), so the Column
  * form re-splits the text n+1 times per shingle: a constant-factor
  * O(n·tokens) waste multiplied into every dedup scan. Here the text
  * splits once and each shingle is built once — the irreducible work. */
case class ShinglesExpr(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {

  require(n > 0, s"shingles: n must be > 0, got $n")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles"
  override def nullable: Boolean = true

  override protected def nullSafeEval(t: Any): Any = {
    val toks = t.toString.split(" ", -1)
    val nsh = toks.length - (n - 1)
    if (nsh <= 0) return new GenericArrayData(Array.empty[Any])
    val sb = new java.lang.StringBuilder
    if (distinct) {
      val seen = new java.util.LinkedHashSet[String]
      var j = 0
      while (j < nsh) {
        sb.setLength(0)
        var o = 0
        while (o < n) {
          if (o > 0) sb.append(' ')
          sb.append(toks(j + o)); o += 1
        }
        seen.add(sb.toString)
        j += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var i = 0
      while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
      new GenericArrayData(out)
    } else {
      val out = new Array[Any](nsh)
      var j = 0
      while (j < nsh) {
        sb.setLength(0)
        var o = 0
        while (o < n) {
          if (o > 0) sb.append(' ')
          sb.append(toks(j + o)); o += 1
        }
        out(j) = UTF8String.fromString(sb.toString)
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

/** One-pass MinHash signature: h_i = min over the document's word
  * n-gram shingles of hex(md5("i|" ‖ shingle)), i = 0..k-1, returned as
  * a k-element array of lowercase-hex strings — BIT-identical to the
  * explode → `min(md5(concat(lit("i|"), s)))` aggregation it replaces
  * ([[graft.operators.Dedup.minhash]]): lexicographic order on equal-
  * length lowercase hex equals unsigned byte order on the digest, so
  * the mins agree, and min over duplicate shingles equals min over
  * distinct ones, so per-document distinctness needs no set. NULL text
  * or a document shorter than n words → NULL (the aggregation form's
  * "no signature row" state; callers filter).
  *
  * Why native: the aggregation form explodes the corpus to ~|words|
  * shingle rows and aggregates k `min(STRING)` columns — a var-width
  * agg buffer, which Spark's HashAggregate cannot hold, so EVERY
  * signature build plans a SortAggregate over the exploded shingle
  * table (the CLAUDE.md struct-max trap in min(string) clothing: at
  * corpus scale that sort IS the dominant stage). Here the signature is
  * a pure per-row projection — no explode, no sort, no exchange, and
  * the same k·shingles md5 work the aggregation paid anyway. The md5-min
  * loop is [[MinHashSigExpr.signature]], shared with the driver path of
  * [[graft.operators.Dedup.canonicalize]], which applies the DF cap to
  * its collected shingle sets first. CodegenFallback: one dispatch per
  * row amortized over the whole-document loop. The distributed DF-capped
  * paths (minhashLshPairs) keep the aggregation form — the cap is a
  * corpus-frequency join that an in-row expression cannot see. */
case class MinHashSigExpr(child: Expression, n: Int, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {

  require(n > 0, s"minhash_sig: n must be > 0, got $n")
  require(k > 0, s"minhash_sig: k must be > 0, got $k")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def nullable: Boolean = true

  override protected def nullSafeEval(t: Any): Any = {
    val toks = t.toString.split(" ", -1)
    val nsh = toks.length - (n - 1)
    if (nsh <= 0) return null
    val sb = new java.lang.StringBuilder
    val shingles = Iterator.tabulate(nsh) { j =>
      sb.setLength(0)
      var o = 0
      while (o < n) {
        if (o > 0) sb.append(' ')
        sb.append(toks(j + o)); o += 1
      }
      sb.toString
    }
    new GenericArrayData(
      MinHashSigExpr.signature(shingles, k).map[Any](UTF8String.fromString))
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

object MinHashSigExpr {

  private[this] val hexDigits = "0123456789abcdef".toCharArray

  /** The MinHash kernel over one document's shingles: h_i = min over
    * `shingles` of md5("i|" ‖ shingle), i = 0..k-1, as lowercase hex.
    * Mins are kept as raw digest bytes (unsigned compare) and
    * hex-encoded once at the end. Duplicate shingles do not change a
    * min, so the input need not be distinct. Returns null for an empty
    * input (no signature). The one implementation behind
    * [[MinHashSigExpr]] and the driver path of
    * [[graft.operators.Dedup.canonicalize]]. */
  def signature(shingles: Iterator[String], k: Int): Array[String] = {
    if (!shingles.hasNext) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    val prefixes = Array.tabulate(k)(i =>
      s"$i|".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val mins = new Array[Array[Byte]](k)
    while (shingles.hasNext) {
      val sBytes = shingles.next().getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < k) {
        md.reset()
        md.update(prefixes(i))
        md.update(sBytes)
        val d = md.digest()
        if (mins(i) == null || unsignedLess(d, mins(i))) mins(i) = d
        i += 1
      }
    }
    mins.map { d =>
      val hex = new Array[Char](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = hexDigits((d(b) >> 4) & 0xf)
        hex(2 * b + 1) = hexDigits(d(b) & 0xf)
        b += 1
      }
      new String(hex)
    }
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xff
      val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }
}

/** One-pass separator-aware chunk packing (the
  * [[graft.operators.TextOps.chunkBySeparator]] bucket rule as a single
  * plan node).
  *
  * Bit-identical to the Column formulation it replaces: pieces = text
  * split on the LITERAL separator with trailing empties kept, piece
  * token count = single-space split length (an empty piece counts 1),
  * piece p lands in chunk floor(Σ_{q<p} t_q / maxTokens) (exclusive
  * prefix sum — monotone, so each chunk's pieces are consecutive),
  * output = one struct per occupied chunk id in document order with
  * (chunk_id, n_pieces, n_tokens, chunk = pieces re-joined with the
  * separator). NULL text → NULL; callers explode.
  *
  * Why native: the array-expression version built the prefix-sum fold
  * once per ROW in the plan, but Catalyst inlines producing projections
  * into lambda references (the [[WinnowExpr]] lesson), so the per-piece
  * bucket lookup re-ran the whole O(pieces) fold and the per-bucket
  * assembly re-ran the O(pieces) piece/count arrays — quadratic on a
  * long document split on a common separator, the exact regression the
  * r10 ADVICE fix was meant to close. Here: one split, one counting
  * pass, one grouping pass — O(pieces + output chars) per document,
  * shuffle-free, and stateless (runs unchanged under Structured
  * Streaming, which the DocStore ingest path requires). */
case class ChunkBySepExpr(child: Expression, separator: String, maxTokens: Int)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {

  require(maxTokens > 0, s"chunk_by_separator: maxTokens must be > 0")
  require(separator.nonEmpty, "chunk_by_separator: separator must be non-empty")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("chunk_id", LongType, nullable = false),
    StructField("n_pieces", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("chunk", StringType, nullable = false))))
  override def prettyName: String = "chunk_by_separator"
  override def nullable: Boolean = true

  @transient private lazy val sepPattern =
    java.util.regex.Pattern.compile(java.util.regex.Pattern.quote(separator))

  override protected def nullSafeEval(t: Any): Any = {
    // limit -1: trailing empty pieces kept — Spark split() semantics
    val pieces = sepPattern.split(t.toString, -1)
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var prefix = 0L
    var i = 0
    while (i < pieces.length) {
      val bucket = prefix / maxTokens
      // consume the consecutive run of pieces whose exclusive prefix
      // sum selects this bucket
      val start = i
      var nTokens = 0L
      val sb = new java.lang.StringBuilder
      var cont = true
      while (cont && i < pieces.length) {
        val p = pieces(i)
        // single-space token count with trailing empties: separators+1
        var tc = 1L
        var c = p.indexOf(' ')
        while (c >= 0) { tc += 1; c = p.indexOf(' ', c + 1) }
        if (i > start) sb.append(separator)
        sb.append(p)
        nTokens += tc
        prefix += tc
        i += 1
        if (i < pieces.length && prefix / maxTokens != bucket) cont = false
      }
      out += org.apache.spark.sql.catalyst.InternalRow(
        bucket, (i - start).toLong, nTokens,
        UTF8String.fromString(sb.toString))
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): ChunkBySepExpr =
    copy(child = newChild)
}
