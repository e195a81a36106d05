package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.{ExtractConfig, Extractor, ExtractorState}

/** `graft_extract_text(html BINARY) -> STRING`: the whole extraction kernel as
  * a scalar Catalyst expression — the SQL surface of the engine (the graft of
  * the reference's registry-dispatched postprocess ops, SURVEY.md §2.11).
  *
  * CodegenFallback is deliberate: the kernel is a hand-written byte-loop that
  * would not benefit from Janino codegen; the per-thread arena keeps it
  * allocation-light across rows. The bulk path (`Extract.run`) remains
  * mapPartitions — this expression exists so `spark.sql("SELECT
  * graft_extract_text(html) ...")` works for ad-hoc relational use.
  */
case class ExtractTextExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def dataType: DataType = StringType
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def prettyName: String = "graft_extract_text"

  @transient private lazy val state = new ThreadLocal[ExtractorState] {
    override def initialValue(): ExtractorState = new ExtractorState()
  }

  override def nullSafeEval(input: Any): Any = {
    val doc = Extractor.extract("", input.asInstanceOf[Array[Byte]],
      ExtractConfig(), state.get())
    UTF8String.fromString(doc.text)
  }

  override protected def withNewChildInternal(newChild: Expression): ExtractTextExpr =
    copy(child = newChild)
}

/** `graft_token_count(s STRING) -> BIGINT`: whitespace-token counter with real
  * whole-stage codegen (doGenCode emits the loop inline — stays inside the
  * WholeStageCodegen span, no virtual call per row). The codegen'd
  * counterpart of the reference's word segmentation counting
  * (ppocr/postprocess/rec_postprocess.py:72-136).
  */
case class TokenCountExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "graft_token_count"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var count = 0L
    var inTok = false
    var i = 0
    while (i < s.length) {
      val ws = s.charAt(i) == ' ' || s.charAt(i) == '\t' || s.charAt(i) == '\n'
      if (!ws && !inTok) { count += 1; inTok = true }
      else if (ws) inTok = false
      i += 1
    }
    java.lang.Long.valueOf(count)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val inTok = ctx.freshName("inTok")
      val ch = ctx.freshName("ch")
      s"""
         |String $s = $c.toString();
         |long ${ev.value}Tmp = 0L;
         |boolean $inTok = false;
         |for (int $i = 0; $i < $s.length(); $i++) {
         |  char $ch = $s.charAt($i);
         |  boolean ws = $ch == ' ' || $ch == '\\t' || $ch == '\\n';
         |  if (!ws && !$inTok) { ${ev.value}Tmp++; $inTok = true; }
         |  else if (ws) { $inTok = false; }
         |}
         |${ev.value} = ${ev.value}Tmp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TokenCountExpr =
    copy(child = newChild)
}

/** Single-pass 64-bit SimHash kernel over a UTF8String: tokens are the
  * single-space splits (Spark `split(text, " ")` semantics incl. empty
  * tokens), each hashed with Spark's own XXH64 (seed 42 — bit-identical to
  * `xxhash64(tok)`), bits majority-voted by occurrence. Static so codegen
  * calls it directly without a virtual dispatch. */
object SimHash64Kernel {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.unsafe.Platform

  def compute(s: UTF8String): Long = computeSeeded(s, 42L)

  /** The 128-bit signature's halves are this kernel at two independent
    * seeds: seed 42 (the canonical 64-bit signature — the low half of the
    * 128-bit form equals `graft_simhash64` bit-for-bit) and HI_SEED. */
  val HI_SEED = 0x9E3779B97F4A7C15L

  def computeSeeded(s: UTF8String, seed: Long): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    val votes = new Array[Int](64)
    var start = 0
    var i = 0
    while (i <= n) {
      // 0x20 never occurs inside a multi-byte UTF-8 sequence, so byte-level
      // splitting is exact
      if (i == n || Platform.getByte(base, off + i) == ' '.toByte) {
        val h = XXH64.hashUnsafeBytes(base, off + start, i - start, seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        start = i + 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sim |= 1L << b; b += 1 }
    sim
  }
}

/** Language-ID vote kernel: the langId marker vote as ONE compiled pass over
  * the UTF-8 bytes (the higher-order array-lambda formulation evaluates
  * interpreted — measured ~30% extra CPU; this kernel removes the premium
  * while keeping the vote row-local and zero-shuffle). Semantics are
  * EXACTLY TextFunctions.langId's: per token-language, votes = count of
  * whitespace-split tokens byte-equal to a marker; per shingle-language
  * (ja/ko/th), votes = non-overlapping substring occurrences; winner = fold in
  * ascending language order with strict >, zero votes → "und". The marker
  * data comes from the same Seqs the DuckDB oracle builds its VALUES from,
  * so the three formulations cannot drift. */
object LangIdKernel {
  import graft.functions.TextFunctions

  /** ascending language order incl. both families; "und" sits past the end */
  val langsAsc: Array[String] =
    (TextFunctions.langMarkers.map(_._1) ++ TextFunctions.shingleMarkers.map(_._1))
      .distinct.sorted.toArray
  val undIndex: Int = langsAsc.length
  // the packed result keeps the index in 4 bits; a 16th language would bleed
  // into the vote bits SILENTLY — fail loudly at class init instead
  require(undIndex <= 15,
    s"LangIdKernel packs the language index into 4 bits; got ${undIndex + 1} languages")

  private val tokenMarkers: Array[Array[Array[Byte]]] = {
    val byLang = TextFunctions.langMarkers.groupBy(_._1)
    langsAsc.map(l => byLang.getOrElse(l, Nil).map(_._2.getBytes("UTF-8")).toArray)
  }
  private val subMarkers: Array[Array[Array[Byte]]] = {
    val byLang = TextFunctions.shingleMarkers.groupBy(_._1)
    langsAsc.map(l => byLang.getOrElse(l, Nil).map(_._2.getBytes("UTF-8")).toArray)
  }

  @inline private def eqAt(b: Array[Byte], from: Int, until: Int, m: Array[Byte]): Boolean = {
    if (until - from != m.length) return false
    var k = 0
    while (k < m.length) { if (b(from + k) != m(k)) return false; k += 1 }
    true
  }

  @inline private def matchAt(b: Array[Byte], at: Int, m: Array[Byte]): Boolean = {
    if (at + m.length > b.length) return false
    var k = 0
    while (k < m.length) { if (b(at + k) != m(k)) return false; k += 1 }
    true
  }

  /** Returns (bestVotes << 4) | bestLangIndex (index = undIndex when no
    * language scores above zero). */
  def compute(s: UTF8String): Long = {
    val b = s.getBytes
    val n = b.length
    val nLangs = langsAsc.length
    val votes = new Array[Long](nLangs)
    // token-equality votes: split on 0x20 (never inside a UTF-8 sequence)
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == ' '.toByte) {
        var l = 0
        while (l < nLangs) {
          val ms = tokenMarkers(l)
          var j = 0
          while (j < ms.length) {
            if (eqAt(b, start, i, ms(j))) votes(l) += 1
            j += 1
          }
          l += 1
        }
        start = i + 1
      }
      i += 1
    }
    // substring-occurrence votes (no-space scripts): non-overlapping scan,
    // the same count replace()-based SQL produces
    var l = 0
    while (l < nLangs) {
      val ms = subMarkers(l)
      var j = 0
      while (j < ms.length) {
        val m = ms(j)
        var p = 0
        while (p + m.length <= n) {
          if (matchAt(b, p, m)) { votes(l) += 1; p += m.length } else p += 1
        }
        j += 1
      }
      l += 1
    }
    var bestV = 0L
    var bestI = undIndex
    l = 0
    while (l < nLangs) { // ascending order, strict > = (votes desc, lang asc)
      if (votes(l) > bestV) { bestV = votes(l); bestI = l }
      l += 1
    }
    (bestV << 4) | bestI
  }
}

/** `graft_lang_best(s STRING) -> BIGINT`: packed (votes << 4 | langIndex)
  * from [[LangIdKernel]]. Codegen'd static call, like graft_simhash64. */
case class LangBestExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "graft_lang_best"

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(LangIdKernel.compute(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.LangIdKernel.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): LangBestExpr =
    copy(child = newChild)
}

/** `graft_simhash64(s STRING) -> BIGINT`: the whole per-document SimHash in
  * ONE row-local expression — replaces the explode-every-token → groupBy
  * formulation whose shuffle re-keyed the entire corpus (at 10^12 rows, the
  * scale-killer). Codegen stays alive via a static kernel call. */
case class SimHash64Expr(child: Expression, seed: Long = 42L)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      SimHash64Kernel.computeSeeded(input.asInstanceOf[UTF8String], seed))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.SimHash64Kernel.computeSeeded($c, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** Sign-random-projection bucket kernel: all nTables bucket ids of one
  * embedding in a single compiled pass. Replaces the literal-weight-array
  * column formulation (r3 `SimilarityFunctions.srpBuckets`): at production
  * embedding dims (768–1536) that shape embedded nTables × nPlanes × dim
  * double literals into every ANN plan — tens of thousands of literals per
  * query — while this expression carries three ints and materializes the
  * plane table once per JVM. Semantics are BIT-IDENTICAL to the literal
  * formulation (pinned in ExpressionSpec): weight = splitmix64(plane*dim+d)
  * scaled to [-1,1], projection summed left-to-right in double, bit p set iff
  * proj > 0, bucket = bits + (table << 32); a length-mismatched or
  * null-holding embedding degenerates to bits = 0 for every table (exactly
  * what the null-padding zip_with + aggregate produced). */
object SrpKernel {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  /** splitmix64 scaled to [-1,1] — public-knowledge mix (Steele et al.,
    * "Fast Splittable Pseudorandom Number Generators", OOPSLA'14). */
  private def planeWeight(plane: Int, dimIdx: Int, dim: Int): Double = {
    var z = (plane.toLong * dim + dimIdx) + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    z.toDouble / Long.MaxValue.toDouble
  }

  private def weights(nPlanesTotal: Int, dim: Int): Array[Array[Double]] =
    cache.computeIfAbsent((nPlanesTotal, dim),
      _ => Array.tabulate(nPlanesTotal)(p => Array.tabulate(dim)(planeWeight(p, _, dim))))

  def compute(arr: ArrayData, nTables: Int, nPlanes: Int, dim: Int): ArrayData = {
    val out = new Array[Long](nTables)
    val n = arr.numElements()
    var degenerate = n != dim
    var d = 0
    while (!degenerate && d < n) { degenerate = arr.isNullAt(d); d += 1 }
    if (degenerate) {
      var t = 0
      while (t < nTables) { out(t) = t.toLong << 32; t += 1 }
    } else {
      val v = new Array[Double](dim)
      d = 0
      while (d < dim) { v(d) = arr.getDouble(d); d += 1 }
      val w = weights(nTables * nPlanes, dim)
      var t = 0
      while (t < nTables) {
        var bits = 0L
        var p = 0
        while (p < nPlanes) {
          val wp = w(t * nPlanes + p)
          var proj = 0.0
          var i = 0
          while (i < dim) { proj += v(i) * wp(i); i += 1 }
          if (proj > 0) bits += 1L << p
          p += 1
        }
        out(t) = bits + (t.toLong << 32)
        t += 1
      }
    }
    new GenericArrayData(out)
  }
}

/** `graft_srp_buckets(v ARRAY<DOUBLE>) -> ARRAY<BIGINT>`: one bucket id per
  * hash table from [[SrpKernel]]. Codegen'd static call; the (nTables,
  * nPlanes, dim) knobs are plan-side constants, not per-row data. */
case class SrpBucketsExpr(child: Expression, nTables: Int, nPlanes: Int, dim: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def prettyName: String = "graft_srp_buckets"

  override def nullSafeEval(input: Any): Any =
    SrpKernel.compute(input.asInstanceOf[ArrayData], nTables, nPlanes, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.SrpKernel.compute($c, $nTables, $nPlanes, $dim)")

  override protected def withNewChildInternal(newChild: Expression): SrpBucketsExpr =
    copy(child = newChild)
}

/** The BPE merge kernel (Sennrich et al. 2016, public): a ' '-joined piece
  * sequence through a rank-ordered merge table. Its [[step]] is the one
  * definition of the greedy leftmost-first non-overlapping merge: the first
  * piece seeds the output, and a piece equal to `r` right after an output
  * piece equal to `l` fuses into `l + r` (a fresh merge result is never the
  * left operand again) — DuckDB's `list_reduce(string_split(s, ' '), …)`
  * oracle lambda. [[apply]] applies the table's merges in rank order, each
  * once over the whole sequence; a merge whose pair is not adjacent leaves
  * the sequence as it is, so it jumps from rank to the next rank whose pair
  * is adjacent. Pieces and merge tokens never contain ' ' (pieces come from
  * space-split tokens), so a pair is two adjacent pieces. */
object BpeKernel {
  /** A merge table in rank order; its pair → ranks index is built once per
    * deserialized copy (once per executor for a broadcast table). */
  final class Table(val left: Array[String], val right: Array[String]) extends Serializable {
    def size: Int = left.length

    @transient private lazy val index: java.util.HashMap[String, java.util.HashMap[String, Array[Int]]] = {
      val m = new java.util.HashMap[String, java.util.HashMap[String, Array[Int]]]()
      var k = 0
      while (k < size) {
        val byRight = m.computeIfAbsent(left(k), _ => new java.util.HashMap[String, Array[Int]]())
        val had = byRight.get(right(k))
        byRight.put(right(k), if (had == null) Array(k) else had :+ k)
        k += 1
      }
      m
    }

    /** The lowest rank >= `from` whose pair is adjacent in `p(0 until n)`,
      * or -1. */
    def nextRank(p: Array[String], n: Int, from: Int): Int = {
      var best = -1
      var i = 0
      while (i + 1 < n) {
        val byRight = index.get(p(i))
        if (byRight != null) {
          val ranks = byRight.get(p(i + 1))
          if (ranks != null) {
            var j = 0
            while (j < ranks.length && ranks(j) < from) j += 1
            if (j < ranks.length && (best < 0 || ranks(j) < best)) best = ranks(j)
          }
        }
        i += 1
      }
      best
    }
  }

  def table(merges: Seq[(String, String)]): Table =
    new Table(merges.map(_._1).toArray, merges.map(_._2).toArray)

  /** One merge (l, r) over `p(0 until n)`, in place; returns the new length. */
  def step(p: Array[String], n: Int, l: String, r: String): Int = {
    var out = 1
    var i = 1
    while (i < n) {
      if (p(i) == r && p(out - 1) == l) p(out - 1) = l + r
      else { p(out) = p(i); out += 1 }
      i += 1
    }
    out
  }

  def apply(seq: UTF8String, merges: Broadcast[Table]): UTF8String = {
    val t = merges.value
    val p = seq.toString.split(" ", -1) // Spark's split(s, " ")
    var n = p.length
    var rank = t.nextRank(p, n, 0)
    while (rank >= 0) {
      n = step(p, n, t.left(rank), t.right(rank))
      rank = t.nextRank(p, n, rank + 1)
    }
    UTF8String.fromString(String.join(" ", java.util.Arrays.asList(p: _*).subList(0, n)))
  }
}

/** `graft_bpe_merge(seq STRING) -> STRING`: [[BpeKernel]] over one piece
  * sequence. The merge table is a Spark broadcast variable, so the plan holds
  * one handle whatever the vocabulary size (the [[SrpBucketsExpr]]
  * plan-compactness rationale; folding each merge into the plan as an
  * expression grew it by one lambda per merge). No SQL registration: the
  * table is a plan-side object. */
case class BpeMergeExpr(child: Expression, merges: Broadcast[BpeKernel.Table])
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "graft_bpe_merge"

  override def nullSafeEval(input: Any): Any =
    BpeKernel(input.asInstanceOf[UTF8String], merges)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bpeMerges", merges, classOf[Broadcast[_]].getName)
    defineCodeGen(ctx, ev, c => s"graft.expressions.BpeKernel.apply($c, $m)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMergeExpr =
    copy(child = newChild)
}

/** IVF coarse-quantizer kernel: the nProbe nearest centroids of one embedding
  * by squared L2 (ties broken by centroid id ascending — deterministic). With
  * L2-normalized vectors nearest-L2 equals max-dot, the standard IVF metric
  * recast. Used with nProbe=1 for list ASSIGNMENT (each vector belongs to
  * exactly one inverted list) and nProbe>1 for query-side probing. */
object IvfKernel {
  def nearest(arr: ArrayData, centroids: Array[Array[Double]], nProbe: Int): ArrayData = {
    val k = centroids.length
    val p = math.min(nProbe, k)
    val n = arr.numElements()
    val dim = if (k > 0) centroids(0).length else 0
    var degenerate = n != dim
    var d = 0
    while (!degenerate && d < n) { degenerate = arr.isNullAt(d); d += 1 }
    val out = new Array[Long](p)
    if (degenerate) {
      // deterministic degenerate: the first nProbe lists
      var i = 0
      while (i < p) { out(i) = i.toLong; i += 1 }
    } else {
      val v = new Array[Double](dim)
      d = 0
      while (d < dim) { v(d) = arr.getDouble(d); d += 1 }
      val dist = new Array[Double](k)
      var c = 0
      while (c < k) {
        val ct = centroids(c)
        var s = 0.0
        var i = 0
        while (i < dim) { val diff = v(i) - ct(i); s += diff * diff; i += 1 }
        dist(c) = s
        c += 1
      }
      // partial selection of the p smallest (k is small — the coarse
      // quantizer is O(100s..1000s) of centroids, never the corpus)
      val taken = new Array[Boolean](k)
      var j = 0
      while (j < p) {
        var best = -1
        var bestD = Double.MaxValue
        c = 0
        while (c < k) {
          if (!taken(c) && dist(c) < bestD) { best = c; bestD = dist(c) }
          c += 1
        }
        if (best < 0) {
          // all remaining distances NaN/Infinity (a NaN coordinate passes the
          // shape check; huge values overflow the squared sum) — fall back to
          // the lowest untaken id, deterministic like the degenerate path
          c = 0
          while (taken(c)) c += 1
          best = c
        }
        taken(best) = true
        out(j) = best.toLong
        j += 1
      }
    }
    new GenericArrayData(out)
  }
}

/** `graft_ivf_nearest(v ARRAY<DOUBLE>) -> ARRAY<BIGINT>`: the nProbe nearest
  * centroid ids from [[IvfKernel]]. The centroid matrix rides the plan as ONE
  * reference object (`ctx.addReferenceObj`), not k×dim literals — the same
  * plan-compactness rationale as [[SrpBucketsExpr]]. Carried as Seq[Seq[..]]
  * so case-class equality stays structural (Array equals is by reference —
  * it would defeat plan canonicalization/codegen caching). Sandbox-scale
  * centroid tables (≤10^3 × dim) ship fine in the task closure; a
  * production 10^5-centroid table would move to an explicit Spark broadcast
  * variable consumed in the same kernel. */
case class IvfNearestExpr(child: Expression, centroids: Seq[Seq[Double]], nProbe: Int)
    extends UnaryExpression with ExpectsInputTypes {

  @transient private lazy val matrix: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def prettyName: String = "graft_ivf_nearest"

  override def nullSafeEval(input: Any): Any =
    IvfKernel.nearest(input.asInstanceOf[ArrayData], matrix, nProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("ivfCentroids", matrix, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.IvfKernel.nearest($c, $m, $nProbe)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfNearestExpr =
    copy(child = newChild)
}

/** Product-quantization kernel (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search" — public method): a vector is coarse-assigned to
  * its nearest IVF centroid, the RESIDUAL (v − centroid) is split into M
  * subvectors, and each subvector is replaced by the id of its nearest
  * subspace codeword. The encoded form is 1+M small ints instead of `dim`
  * doubles — the 10^12-vector memory shape (64 floats → ~9 bytes at M=8).
  * Scoring is asymmetric (ADC): dot(q, c_list) + Σ_m dot(q_m, codeword_m) —
  * computed straight from the codes, no reconstruction materialized.
  * All loops are fixed-order sequential → bit-deterministic at any
  * parallelism. Degenerate inputs (wrong dim / null slots) encode to list 0
  * code 0 and score 0.0 — deterministic, never a throw. */
object PqKernel {
  def encode(arr: ArrayData, coarse: Array[Array[Double]],
             cbs: Array[Array[Array[Double]]]): ArrayData = {
    val m = cbs.length
    val dsub = cbs(0)(0).length
    val dim = m * dsub
    val out = new Array[Long](1 + m)
    var degenerate = arr.numElements() != dim
    var d = 0
    while (!degenerate && d < dim) { degenerate = arr.isNullAt(d); d += 1 }
    if (!degenerate) {
      val v = new Array[Double](dim)
      d = 0
      while (d < dim) { v(d) = arr.getDouble(d); d += 1 }
      // coarse argmin (squared L2, ties to the lower id — IvfKernel's rule)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < coarse.length) {
        val ct = coarse(c)
        var s = 0.0
        var i = 0
        while (i < dim) { val df = v(i) - ct(i); s += df * df; i += 1 }
        if (s < bestD) { best = c; bestD = s }
        c += 1
      }
      out(0) = best.toLong
      val ct = coarse(best)
      var sm = 0
      while (sm < m) {
        val cb = cbs(sm)
        val base = sm * dsub
        var bc = 0
        var bd = Double.MaxValue
        var w = 0
        while (w < cb.length) {
          val cw = cb(w)
          var s = 0.0
          var i = 0
          while (i < dsub) {
            val df = (v(base + i) - ct(base + i)) - cw(i); s += df * df; i += 1
          }
          if (s < bd) { bc = w; bd = s }
          w += 1
        }
        out(1 + sm) = bc.toLong
        sm += 1
      }
    }
    new GenericArrayData(out)
  }

  def score(q: ArrayData, enc: ArrayData, coarse: Array[Array[Double]],
            cbs: Array[Array[Array[Double]]]): Double = {
    val m = cbs.length
    val dsub = cbs(0)(0).length
    val dim = m * dsub
    if (q.numElements() != dim || enc.numElements() != 1 + m) return 0.0
    var d = 0
    while (d < dim) { if (q.isNullAt(d)) return 0.0; d += 1 }
    val list = enc.getLong(0).toInt
    if (list < 0 || list >= coarse.length) return 0.0
    // any out-of-range codeword id makes the WHOLE encoding degenerate —
    // a partial sum would be a plausible-looking but wrong score
    var sm = 0
    while (sm < m) {
      val code = enc.getLong(1 + sm)
      if (code < 0 || code >= cbs(sm).length) return 0.0
      sm += 1
    }
    var s = 0.0
    val ct = coarse(list)
    var i = 0
    while (i < dim) { s += q.getDouble(i) * ct(i); i += 1 }
    sm = 0
    while (sm < m) {
      val cw = cbs(sm)(enc.getLong(1 + sm).toInt)
      val base = sm * dsub
      var j = 0
      while (j < dsub) { s += q.getDouble(base + j) * cw(j); j += 1 }
      sm += 1
    }
    s
  }

  def residual(arr: ArrayData, coarse: Array[Array[Double]]): ArrayData = {
    val dim = if (coarse.nonEmpty) coarse(0).length else 0
    var degenerate = arr.numElements() != dim
    var d = 0
    while (!degenerate && d < dim) { degenerate = arr.isNullAt(d); d += 1 }
    if (degenerate) return new GenericArrayData(new Array[Double](dim))
    val v = new Array[Double](dim)
    d = 0
    while (d < dim) { v(d) = arr.getDouble(d); d += 1 }
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < coarse.length) {
      val ct = coarse(c)
      var s = 0.0
      var i = 0
      while (i < dim) { val df = v(i) - ct(i); s += df * df; i += 1 }
      if (s < bestD) { best = c; bestD = s }
      c += 1
    }
    val ct = coarse(best)
    val out = new Array[Double](dim)
    var i = 0
    while (i < dim) { out(i) = v(i) - ct(i); i += 1 }
    new GenericArrayData(out)
  }
}

/** `graft_pq_residual(v) -> ARRAY<DOUBLE>`: v minus its nearest coarse
  * centroid — the PQ TRAINING input (codebooks are trained on residuals).
  * Coarse matrix rides the plan as one reference object (IvfNearestExpr's
  * rationale). */
case class PqResidualExpr(child: Expression, coarse: Seq[Seq[Double]])
    extends UnaryExpression with ExpectsInputTypes {

  @transient private lazy val matrix: Array[Array[Double]] =
    coarse.map(_.toArray).toArray

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def prettyName: String = "graft_pq_residual"

  override def nullSafeEval(input: Any): Any =
    PqKernel.residual(input.asInstanceOf[ArrayData], matrix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("pqCoarse", matrix, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.expressions.PqKernel.residual($c, $m)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqResidualExpr =
    copy(child = newChild)
}

/** `graft_pq_encode(v) -> ARRAY<BIGINT>` of length 1+M:
  * [coarse list id, M residual codeword ids]. Coarse matrix + codebooks ride
  * the plan as reference objects. */
case class PqEncodeExpr(child: Expression, coarse: Seq[Seq[Double]],
                        codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with ExpectsInputTypes {

  @transient private lazy val matrix: Array[Array[Double]] =
    coarse.map(_.toArray).toArray
  @transient private lazy val cbs: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def prettyName: String = "graft_pq_encode"

  override def nullSafeEval(input: Any): Any =
    PqKernel.encode(input.asInstanceOf[ArrayData], matrix, cbs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("pqCoarse", matrix, "double[][]")
    val b = ctx.addReferenceObj("pqCodebooks", cbs, "double[][][]")
    defineCodeGen(ctx, ev, c => s"graft.expressions.PqKernel.encode($c, $m, $b)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** `graft_pq_score(q, enc) -> DOUBLE`: asymmetric-distance (ADC) inner
  * product of a raw query against an encoded vector —
  * dot(q, c_list) + Σ_m dot(q_m, codeword_m). */
case class PqScoreExpr(left: Expression, right: Expression,
                       coarse: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]])
    extends BinaryExpression with ExpectsInputTypes {

  @transient private lazy val matrix: Array[Array[Double]] =
    coarse.map(_.toArray).toArray
  @transient private lazy val cbs: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(LongType))
  override def prettyName: String = "graft_pq_score"

  override def nullSafeEval(q: Any, enc: Any): Any =
    PqKernel.score(q.asInstanceOf[ArrayData], enc.asInstanceOf[ArrayData], matrix, cbs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("pqCoarse", matrix, "double[][]")
    val b = ctx.addReferenceObj("pqCodebooks", cbs, "double[][][]")
    defineCodeGen(ctx, ev,
      (q, e) => s"graft.expressions.PqKernel.score($q, $e, $m, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqScoreExpr =
    copy(left = newLeft, right = newRight)
}

/** RFC 3986 §6 URL normalization — the key function of URL-level dedup, the
  * FIRST dedup stage of a public crawl pipeline (Common-Crawl CDX indexes by
  * canonicalized SURT key; RefinedWeb dedups by normalized url before any
  * content pass — public methodology). Pure static kernel so codegen calls
  * it without virtual dispatch.
  *
  * Contract (documented, spec-pinned):
  *  - trim, strip the `#fragment` (always, any scheme);
  *  - only http/https URLs are further normalized (others pass through);
  *  - scheme and host lowercase; a trailing-dot FQDN host loses ALL
  *    trailing dots (fixed-point rule);
  *  - default ports (`:80` http, `:443` https) removed ([ipv6]:port safe);
  *  - empty path → `/`; ALL trailing `/` on a non-root path are dropped (the
  *    crawl-dedup convention: /a/ and /a are one fetch target);
  *  - percent-escapes: hex uppercased (§6.2.2.1), unreserved octets decoded
  *    (§6.2.2.2) in path and query;
  *  - query params: tracking keys dropped (utm_* prefix + the public click-id
  *    set), remainder sorted bytewise (stable for equal keys), empty query
  *    dropped. `+` is left as-is (form-encoding is an application layer, not
  *    RFC 3986).
  */
object UrlKernel {
  private val dropKeys: java.util.Set[String] = {
    val s = new java.util.HashSet[String]()
    Seq("fbclid", "gclid", "msclkid", "dclid", "mc_eid", "igshid").foreach(s.add)
    s
  }

  private def isUnreserved(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Uppercase %XX hex; decode unreserved octets. Malformed escapes copied. */
  private def normPct(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val b = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
        val v = (hexVal(s.charAt(i + 1)) << 4) | hexVal(s.charAt(i + 2))
        if (v < 128 && isUnreserved(v.toChar)) b.append(v.toChar)
        else b.append('%')
          .append(Character.toUpperCase(s.charAt(i + 1)))
          .append(Character.toUpperCase(s.charAt(i + 2)))
        i += 3
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  private def keep(param: String): Boolean = {
    val eq = param.indexOf('=')
    val key = (if (eq >= 0) param.substring(0, eq) else param)
      .toLowerCase(java.util.Locale.ROOT)
    key.nonEmpty && !key.startsWith("utm_") && !dropKeys.contains(key)
  }

  private def normQuery(q: String): String = {
    // the all-junk filter keeps the output a fixed point: a param of only
    // control/space chars would survive into "?<junk>", the exit trim would
    // strip it to a dangling "?", and only the NEXT canonicalization drops
    // an empty query — key drift (review-found; fuzz-pinned)
    val parts = q.split("&", -1).filter(_.nonEmpty).filter(keep).map(normPct)
      .filter(_.exists(_ > ' '))
    java.util.Arrays.sort(parts.asInstanceOf[Array[AnyRef]]) // bytewise-stable for ASCII
    parts.mkString("&")
  }

  /** Strip ALL trailing dots, keeping at least one char — the FQDN rule in
    * [[host]] and [[canonical]]; single-dot dropping is not a fixed point
    * ("a.." -> "a." -> "a" across re-canonicalizations). */
  private def dropTrailingDots(s: String): String = {
    var e = s.length
    while (e > 1 && s.charAt(e - 1) == '.') e -= 1
    if (e < s.length) s.substring(0, e) else s
  }

  def canonical(u: UTF8String): UTF8String = UTF8String.fromString(canonical(u.toString))

  def host(u: UTF8String): UTF8String = UTF8String.fromString(host(u.toString))

  /** Canonical lowercase host of a URL (same rules as [[canonical]]: userinfo
    * and port stripped, trailing-dot FQDN dot dropped). Empty string when the
    * input has no `scheme://` authority — the per-domain aggregation key of a
    * crawl-frontier / domain-scorecard report. */
  def host(raw: String): String = {
    val s0 = raw.trim
    val h = s0.indexOf('#')
    // re-trim: stripping the fragment can EXPOSE trailing whitespace
    // ("...?\t#x"), and a second canonicalization would trim it —
    // stored keys must be a fixed point or incremental-crawl keys drift
    val s = (if (h >= 0) s0.substring(0, h) else s0).trim
    // a path-only input has no authority — bail before the "://" scan so a
    // query-embedded URL (/r?to=https://x/y) can't be misread as the host
    if (s.startsWith("/")) return ""
    val se = s.indexOf("://")
    if (se <= 0) return ""
    val rest = s.substring(se + 3)
    var aEnd = 0
    while (aEnd < rest.length && rest.charAt(aEnd) != '/' && rest.charAt(aEnd) != '?') aEnd += 1
    val auth = rest.substring(0, aEnd)
    val at = auth.lastIndexOf('@')
    var hst = if (at >= 0) auth.substring(at + 1) else auth
    val bracket = hst.lastIndexOf(']')
    val colon = hst.lastIndexOf(':')
    if (colon > bracket) hst = hst.substring(0, colon)
    hst = hst.toLowerCase(java.util.Locale.ROOT)
    hst = dropTrailingDots(hst)
    hst
  }

  def path(u: UTF8String): UTF8String = UTF8String.fromString(path(u.toString))

  /** Path-and-query of a URL ("/" when absent; fragment dropped) — the
    * component robots rules match against (RFC 9309 §2.2.2 matches the
    * percent-encoded path INCLUDING the query). An input that starts with
    * '/' is ALREADY a path and is returned as-is (checked BEFORE any
    * authority scan, so a path whose query embeds a full URL — e.g.
    * `/redirect?to=https://x/y` — is never re-parsed as having an
    * authority; protocol-relative `//host/x` inputs also land here and are
    * treated as paths by this rule). */
  def path(raw: String): String = {
    val s0 = raw.trim
    val h = s0.indexOf('#')
    // re-trim: stripping the fragment can EXPOSE trailing whitespace
    // ("...?\t#x"), and a second canonicalization would trim it —
    // stored keys must be a fixed point or incremental-crawl keys drift
    val s = (if (h >= 0) s0.substring(0, h) else s0).trim
    if (s.startsWith("/")) return s
    val se = s.indexOf("://")
    if (se <= 0) return "/"
    val rest = s.substring(se + 3)
    var aEnd = 0
    while (aEnd < rest.length && rest.charAt(aEnd) != '/' && rest.charAt(aEnd) != '?') aEnd += 1
    val tail = rest.substring(aEnd)
    if (tail.isEmpty) "/" else if (tail.charAt(0) == '?') "/" + tail else tail
  }

  def resolve(base: UTF8String, ref: UTF8String): UTF8String =
    UTF8String.fromString(resolve(base.toString, ref.toString))

  /** RFC 3986 §5 reference resolution (strict): resolves `ref` against
    * `base` — relative paths (`g`, `./g`, `../g`), absolute paths,
    * network-path (`//host/x`), query-only (`?y`), fragment-only (`#s`),
    * empty, and full-URI references, with §5.2.4 dot-segment removal. The
    * primitive behind href → frontier-URL conversion (the x21 host
    * shortcut resolves hosts only; this resolves full URLs). Verified
    * against the RFC's own §5.4.1 + §5.4.2 vectors (UrlResolveSpec). */
  def resolve(base: String, ref: String): String =
    resolveWith(splitUri(base.trim), ref)

  /** [[resolve]] against a PRE-SPLIT base — split the base once per page
    * and reuse it across every href (resolvedLinks calls this per anchor;
    * re-splitting a constant base 10k times on a link-farm page is pure
    * waste in the scan-stage kernel). */
  private[graft] def resolveWith(b: UriParts, ref: String): String = {
    val r = splitUri(ref.trim)
    var scheme: String = null; var auth: String = null
    var path: String = null; var query: String = null
    if (r.scheme != null) {
      scheme = r.scheme; auth = r.auth
      path = removeDotSegments(r.path); query = r.query
    } else {
      scheme = b.scheme
      if (r.auth != null) {
        auth = r.auth; path = removeDotSegments(r.path); query = r.query
      } else {
        auth = b.auth
        if (r.path.isEmpty) {
          path = b.path
          query = if (r.query != null) r.query else b.query
        } else {
          query = r.query
          path =
            if (r.path.startsWith("/")) removeDotSegments(r.path)
            else {
              // §5.2.3 merge: base-with-authority-and-empty-path → "/"+ref,
              // else replace everything after base path's last "/"
              val merged =
                if (b.auth != null && b.path.isEmpty) "/" + r.path
                else {
                  val cut = b.path.lastIndexOf('/')
                  if (cut >= 0) b.path.substring(0, cut + 1) + r.path else r.path
                }
              removeDotSegments(merged)
            }
        }
      }
    }
    val out = new java.lang.StringBuilder(path.length + ref.length + 16)
    if (scheme != null) out.append(scheme).append(':')
    if (auth != null) out.append("//").append(auth)
    out.append(path)
    if (query != null) out.append('?').append(query)
    if (r.frag != null) out.append('#').append(r.frag)
    out.toString
  }

  private[graft] final case class UriParts(scheme: String, auth: String,
                                           path: String, query: String, frag: String)

  /** RFC 3986 appendix-B component split (null = component absent; note an
    * EMPTY authority/query/fragment is present-but-empty, not null). */
  private[graft] def splitUri(s: String): UriParts = {
    var rest = s
    var frag: String = null
    val h = rest.indexOf('#')
    if (h >= 0) { frag = rest.substring(h + 1); rest = rest.substring(0, h) }
    var query: String = null
    val q = rest.indexOf('?')
    if (q >= 0) { query = rest.substring(q + 1); rest = rest.substring(0, q) }
    var scheme: String = null
    val c = rest.indexOf(':')
    val slash = rest.indexOf('/')
    if (c > 0 && (slash < 0 || c < slash) && isScheme(rest.substring(0, c))) {
      scheme = rest.substring(0, c); rest = rest.substring(c + 1)
    }
    var auth: String = null
    if (rest.startsWith("//")) {
      var e = 2
      while (e < rest.length && rest.charAt(e) != '/' && rest.charAt(e) != '?') e += 1
      auth = rest.substring(2, e); rest = rest.substring(e)
    }
    UriParts(scheme, auth, rest, query, frag)
  }

  private def isScheme(s: String): Boolean =
    s.nonEmpty && isAsciiAlpha(s.charAt(0)) && s.forall(ch =>
      isAsciiAlpha(ch) || (ch >= '0' && ch <= '9') || ch == '+' || ch == '-' || ch == '.')

  private def isAsciiAlpha(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')

  /** RFC 3986 §5.2.4 remove_dot_segments — cursor form: the textbook
    * buffer-rewriting algorithm is QUADRATIC (each step re-slices the
    * remaining input; a crawled href with 100k segments measured seconds of
    * CPU — a row-local DoS on attacker-controlled HTML), so this walks the
    * string with an index and never re-materializes the tail. */
  private def removeDotSegments(p: String): String = {
    val out = new java.lang.StringBuilder(p.length)
    val n = p.length
    var i = 0
    @inline def at(j: Int, c: Char): Boolean = j < n && p.charAt(j) == c
    while (i < n) {
      if (at(i, '.') && at(i + 1, '.') && at(i + 2, '/')) i += 3        // "../"
      else if (at(i, '.') && at(i + 1, '/')) i += 2                     // "./"
      else if (at(i, '/') && at(i + 1, '.') && at(i + 2, '/')) i += 2   // "/./" → "/"+rest
      else if (at(i, '/') && at(i + 1, '.') && i + 2 == n) {            // trailing "/."
        out.append('/'); i = n
      } else if (at(i, '/') && at(i + 1, '.') && at(i + 2, '.') &&
                 (at(i + 3, '/') || i + 3 == n)) {                      // "/../" or trailing "/.."
        val cut = out.lastIndexOf("/")
        out.setLength(if (cut >= 0) cut else 0)
        if (i + 3 == n) { out.append('/'); i = n } else i += 3          // keep the '/' at i+3
      } else if (at(i, '.') && (i + 1 == n || (at(i + 1, '.') && i + 2 == n))) {
        i = n                                                           // lone "." / ".."
      } else {
        var e = if (p.charAt(i) == '/') i + 1 else i
        while (e < n && p.charAt(e) != '/') e += 1
        out.append(p, i, e)
        i = e
      }
    }
    out.toString
  }

  def canonical(raw: String): String = {
    val s0 = raw.trim
    val h = s0.indexOf('#')
    // re-trim: stripping the fragment can EXPOSE trailing whitespace
    // ("...?\t#x"), and a second canonicalization would trim it —
    // stored keys must be a fixed point or incremental-crawl keys drift
    val s = (if (h >= 0) s0.substring(0, h) else s0).trim
    val se = s.indexOf("://")
    if (se <= 0) return s
    val scheme = s.substring(0, se).toLowerCase(java.util.Locale.ROOT)
    if (scheme != "http" && scheme != "https") return s
    val rest = s.substring(se + 3)
    var aEnd = 0
    while (aEnd < rest.length && rest.charAt(aEnd) != '/' && rest.charAt(aEnd) != '?') aEnd += 1
    val auth = rest.substring(0, aEnd)
    val tail = rest.substring(aEnd)
    val at = auth.lastIndexOf('@')
    val userinfo = if (at >= 0) auth.substring(0, at + 1) else ""
    var host = if (at >= 0) auth.substring(at + 1) else auth
    val bracket = host.lastIndexOf(']')
    val colon = host.lastIndexOf(':')
    var port = ""
    if (colon > bracket) { port = host.substring(colon); host = host.substring(0, colon) }
    host = host.toLowerCase(java.util.Locale.ROOT)
    host = dropTrailingDots(host)
    if ((scheme == "http" && port == ":80") || (scheme == "https" && port == ":443"))
      port = ""
    val qIdx = tail.indexOf('?')
    var path = normPct(if (qIdx >= 0) tail.substring(0, qIdx) else tail)
    if (path.isEmpty) path = "/"
    else {
      // drop ALL trailing slashes AND control/space chars together (one
      // pass of single-slash dropping is not a fixed point: "/a//" ->
      // "/a/" -> "/a"; and stripping junk only at exit would un-hide a
      // trailing slash the NEXT pass drops — "/a/ " -> "/a/" -> "/a",
      // review-found key drift)
      var pe = path.length
      while (pe > 1 && (path.charAt(pe - 1) == '/' || path.charAt(pe - 1) <= ' ')) pe -= 1
      if (pe < path.length) path = path.substring(0, pe)
    }
    val query = if (qIdx >= 0) normQuery(tail.substring(qIdx + 1)) else ""
    val b = new java.lang.StringBuilder(s.length)
    b.append(scheme).append("://").append(userinfo).append(host).append(port).append(path)
    if (query.nonEmpty) b.append('?').append(query)
    // exit trim: normalization can EXPOSE a trailing control char (an
    // interior NUL before dropped trailing slashes, say), which the NEXT
    // canonicalization's entry trim would strip — the output must be a
    // fixed point or incremental-crawl keys drift between runs (fuzz-pinned)
    b.toString.trim
  }
}

/** Unicode NFC normalization kernel — the canonical-composition cleanup pass
  * a web corpus runs before hashing/dedup (two byte sequences rendering the
  * same text must dedup together; NFC is the W3C-recommended form). Backed
  * by the JDK's `java.text.Normalizer` (Unicode-spec NFC — agrees with
  * DuckDB's utf8proc `nfc_normalize`, which is the oracle). The fast path
  * skips allocation entirely: `Normalizer.isNormalized` is O(n) with no
  * copy, and real web text is overwhelmingly already-NFC. */
object NfcKernel {
  def nfc(u: UTF8String): UTF8String = {
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
}

/** `graft_nfc(s STRING) -> STRING`: codegen'd scalar NFC normalization. */
case class NfcExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(input: Any): Any =
    NfcKernel.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.NfcKernel.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcExpr =
    copy(child = newChild)
}

/** `graft_url_canon(url STRING) -> STRING`: [[UrlKernel.canonical]] as a
  * codegen'd scalar expression — stays inside the WholeStageCodegen span of
  * the ingest scan, zero shuffle; URL-level dedup is then an ordinary
  * groupBy on the canonical key. */
case class UrlCanonExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "graft_url_canon"

  override def nullSafeEval(input: Any): Any =
    UrlKernel.canonical(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.UrlKernel.canonical($c)")

  override protected def withNewChildInternal(newChild: Expression): UrlCanonExpr =
    copy(child = newChild)
}

/** `graft_url_host(url STRING) -> STRING`: canonical lowercase host (empty
  * for authority-less inputs) — the per-domain aggregation key. */
/** `graft_url_path(url STRING) -> STRING`: [[UrlKernel.path]] — the
  * path+query component robots rules and sitemap diffs key on. Codegen'd,
  * zero shuffle. */
case class UrlPathExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "graft_url_path"

  override def nullSafeEval(input: Any): Any =
    UrlKernel.path(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.UrlKernel.path($c)")

  override protected def withNewChildInternal(newChild: Expression): UrlPathExpr =
    copy(child = newChild)
}

/** `graft_url_resolve(base STRING, ref STRING) -> STRING`: RFC 3986 §5
  * reference resolution ([[UrlKernel.resolve]]) as a codegen'd scalar —
  * href → absolute frontier URL inside the scan stage, zero shuffle. */
case class UrlResolveExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def prettyName: String = "graft_url_resolve"

  override def nullSafeEval(base: Any, ref: Any): Any =
    UrlKernel.resolve(base.asInstanceOf[UTF8String], ref.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, r) => s"graft.expressions.UrlKernel.resolve($b, $r)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UrlResolveExpr =
    copy(left = newLeft, right = newRight)
}

case class UrlHostExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "graft_url_host"

  override def nullSafeEval(input: Any): Any =
    UrlKernel.host(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.UrlKernel.host($c)")

  override protected def withNewChildInternal(newChild: Expression): UrlHostExpr =
    copy(child = newChild)
}

/** `graft_extract_links(html BINARY) -> ARRAY<STRING>`: href values of `<a>`
  * tags — the link-extraction pass of a crawl link-graph build (the public
  * WAT-records shape; reference analog: the reference mines hyperlink text
  * regions the same single-pass way it mines text). Runs the SAME tokenizer
  * as graft_extract_text (script/comment bodies skipped — no phantom links)
  * via a per-thread reused arena; CodegenFallback for the same reason as
  * ExtractTextExpr (one virtual call around a large kernel — inlining the
  * kernel body into generated Java would blow the 64KB method limit for
  * zero measurable gain). */
case class ExtractLinksExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def prettyName: String = "graft_extract_links"

  @transient private lazy val arena =
    new ThreadLocal[graft.htmltok.TokenArena] {
      override def initialValue(): graft.htmltok.TokenArena =
        new graft.htmltok.TokenArena()
    }

  override def nullSafeEval(input: Any): Any = {
    val hrefs = graft.htmltok.HtmlTokenizer.anchorHrefs(
      input.asInstanceOf[Array[Byte]], arena.get())
    new GenericArrayData(hrefs.map(UTF8String.fromString).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): ExtractLinksExpr =
    copy(child = newChild)
}

/** `graft_anchor_texts(html BINARY) -> ARRAY<STRUCT<href, text>>`: (href,
  * anchor text) pairs — the anchor-text corpus pass (WAT Links+text shape).
  * Same tokenizer/arena discipline as ExtractLinksExpr. */
case class AnchorTextsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("href", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("text", StringType, nullable = false))),
    containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def prettyName: String = "graft_anchor_texts"

  @transient private lazy val arena =
    new ThreadLocal[graft.htmltok.TokenArena] {
      override def initialValue(): graft.htmltok.TokenArena =
        new graft.htmltok.TokenArena()
    }

  override def nullSafeEval(input: Any): Any = {
    val pairs = graft.htmltok.HtmlTokenizer.anchorTexts(
      input.asInstanceOf[Array[Byte]], arena.get())
    new GenericArrayData(pairs.map(p => InternalRow(
      UTF8String.fromString(p._1), UTF8String.fromString(p._2))).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): AnchorTextsExpr =
    copy(child = newChild)
}

/** `graft_resolved_links(html BINARY, url STRING) -> ARRAY<STRING>`:
  * absolute outlink URLs — every `<a href>` RFC 3986-resolved against the
  * page's effective base (`<base href>` honored). The frontier-feed form of
  * graft_extract_links. */
case class ResolvedLinksExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(BinaryType, StringType)
  override def prettyName: String = "graft_resolved_links"

  @transient private lazy val arena =
    new ThreadLocal[graft.htmltok.TokenArena] {
      override def initialValue(): graft.htmltok.TokenArena =
        new graft.htmltok.TokenArena()
    }

  override def nullSafeEval(html: Any, url: Any): Any = {
    val links = graft.htmltok.HtmlTokenizer.resolvedLinks(
      html.asInstanceOf[Array[Byte]], arena.get(),
      url.asInstanceOf[UTF8String].toString)
    new GenericArrayData(links.map(UTF8String.fromString).toArray[Any])
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ResolvedLinksExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_head_meta(html BINARY) -> STRUCT<title, description, canonical,
  * robots, og_title, og_description, lang>`: page-level head metadata (the
  * public WAT `Head` record shape) — first occurrence wins, values
  * entity-decoded; script/style bodies cannot fake metadata (they tokenize
  * as Text). Same tokenizer/arena discipline as ExtractLinksExpr. */
case class HeadMetaExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  private val fields = Seq("title", "description", "canonical", "robots",
    "og_title", "og_description", "lang")
  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    fields.map(f =>
      org.apache.spark.sql.types.StructField(f, StringType, nullable = true)))
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def prettyName: String = "graft_head_meta"

  @transient private lazy val arena =
    new ThreadLocal[graft.htmltok.TokenArena] {
      override def initialValue(): graft.htmltok.TokenArena =
        new graft.htmltok.TokenArena()
    }

  override def nullSafeEval(input: Any): Any = {
    val m = graft.htmltok.HtmlTokenizer.headMeta(
      input.asInstanceOf[Array[Byte]], arena.get())
    def u(s: String): Any = if (s == null) null else UTF8String.fromString(s)
    InternalRow(u(m.title), u(m.description), u(m.canonical), u(m.robots),
      u(m.ogTitle), u(m.ogDescription), u(m.lang))
  }

  override protected def withNewChildInternal(newChild: Expression): HeadMetaExpr =
    copy(child = newChild)
}

/** `graft_gopher_rep(text STRING) -> ARRAY<STRUCT<n, n_grams, top_count,
  * top_gram, top_chars, dup_chars>>`: the per-document Gopher A1.2
  * repetition statistics (Rae et al. 2021 table A1) for every gram width in
  * `ns`, computed ROW-LOCALLY — repetition is a per-document property, so
  * the d48 combining (doc_id, n, gram) exchange (the first implementation;
  * ~9 × n_tokens gram rows per document shuffled) is unnecessary work at
  * any scale: one hash-map pass per width replaces it and the whole gate
  * becomes scan-shaped. Widths wider than the token count are omitted
  * (matching the relational form, which produced no rows for them).
  *
  * Exact parity contract with the relational form (oracle-pinned):
  * tokens = `split(text, ' ')` regex semantics (empties kept); the top gram
  * ties break by UNSIGNED UTF-8 byte order (Spark's `max(struct(c, gram))`
  * string ordering, NOT Java's UTF-16 compareTo); char counts are code
  * points (Spark `length`).
  *
  * CodegenFallback is deliberate: the kernel builds per-width hash maps and
  * an array of structs — object-heavy work Janino codegen cannot improve.
  */
case class GopherRepExpr(child: Expression, ns: Seq[Int])
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("n_grams", LongType, nullable = false),
    StructField("top_count", LongType, nullable = false),
    StructField("top_gram", StringType, nullable = false),
    StructField("top_chars", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false))),
    containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "graft_gopher_rep"

  /** Unsigned UTF-8 byte comparison — Spark's string ordering. */
  private def cmpUtf8(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val m = math.min(x.length, y.length)
    while (i < m) {
      val d = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private def codePoints(s: String): Long =
    s.codePointCount(0, s.length).toLong

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val len = toks.length
    val out = new Array[Any](ns.count(_ <= len))
    var oi = 0
    ns.foreach { n =>
      if (n <= len) {
        val counts = new java.util.HashMap[String, Long]()
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j + n <= len) {
          sb.setLength(0)
          var k = 0
          while (k < n) {
            if (k > 0) sb.append(' ')
            sb.append(toks(j + k))
            k += 1
          }
          counts.merge(sb.toString, 1L, java.lang.Long.sum(_, _))
          j += 1
        }
        var topGram: String = null
        var topCount = 0L
        var dupChars = 0L
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c = e.getValue.longValue()
          if (c > topCount ||
              (c == topCount && cmpUtf8(e.getKey, topGram) > 0)) {
            topCount = c; topGram = e.getKey
          }
          if (c >= 2) dupChars += c * codePoints(e.getKey)
        }
        out(oi) = InternalRow(n, (len - n + 1).toLong, topCount,
          UTF8String.fromString(topGram), topCount * codePoints(topGram),
          dupChars)
        oi += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): GopherRepExpr =
    copy(child = newChild)
}

object GraftExpressions {
  import org.apache.spark.sql.graftshim.ColumnBridge

  def extract_text(c: Column): Column =
    ColumnBridge.column(ExtractTextExpr(ColumnBridge.expression(c)))
  def extractLinks(c: Column): Column =
    ColumnBridge.column(ExtractLinksExpr(ColumnBridge.expression(c)))
  def anchorTexts(c: Column): Column =
    ColumnBridge.column(AnchorTextsExpr(ColumnBridge.expression(c)))
  def headMeta(c: Column): Column =
    ColumnBridge.column(HeadMetaExpr(ColumnBridge.expression(c)))
  def resolvedLinks(html: Column, url: Column): Column =
    ColumnBridge.column(ResolvedLinksExpr(
      ColumnBridge.expression(html), ColumnBridge.expression(url)))
  def token_count(c: Column): Column =
    ColumnBridge.column(TokenCountExpr(ColumnBridge.expression(c)))
  def simhash64(c: Column): Column =
    ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(c)))
  /** High half of the 128-bit signature (independent seed, same kernel). */
  def simhash64Hi(c: Column): Column =
    ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(c), SimHash64Kernel.HI_SEED))
  def langBest(c: Column): Column =
    ColumnBridge.column(LangBestExpr(ColumnBridge.expression(c)))
  /** No SQL registration: `ns` is a plan-side Scala parameter. */
  def gopherRep(c: Column, ns: Seq[Int]): Column =
    ColumnBridge.column(GopherRepExpr(ColumnBridge.expression(c), ns))
  def urlCanon(c: Column): Column =
    ColumnBridge.column(UrlCanonExpr(ColumnBridge.expression(c)))
  def urlHost(c: Column): Column =
    ColumnBridge.column(UrlHostExpr(ColumnBridge.expression(c)))
  def urlPath(c: Column): Column =
    ColumnBridge.column(UrlPathExpr(ColumnBridge.expression(c)))
  def urlResolve(base: Column, ref: Column): Column =
    ColumnBridge.column(UrlResolveExpr(
      ColumnBridge.expression(base), ColumnBridge.expression(ref)))
  def nfc(c: Column): Column =
    ColumnBridge.column(NfcExpr(ColumnBridge.expression(c)))
  def bpeMerge(c: Column, merges: Broadcast[BpeKernel.Table]): Column =
    ColumnBridge.column(BpeMergeExpr(ColumnBridge.expression(c), merges))
  def srpBuckets(c: Column, nTables: Int, nPlanes: Int, dim: Int): Column =
    ColumnBridge.column(SrpBucketsExpr(ColumnBridge.expression(c), nTables, nPlanes, dim))
  /** No SQL registration: the centroid matrix is a plan-side object, not an
    * expressible SQL literal. */
  def ivfNearest(c: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column =
    ColumnBridge.column(IvfNearestExpr(ColumnBridge.expression(c), centroids, nProbe))
  def pqResidual(c: Column, coarse: Seq[Seq[Double]]): Column =
    ColumnBridge.column(PqResidualExpr(ColumnBridge.expression(c), coarse))
  def pqEncode(c: Column, coarse: Seq[Seq[Double]],
               codebooks: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(PqEncodeExpr(ColumnBridge.expression(c), coarse, codebooks))
  def pqScore(q: Column, enc: Column, coarse: Seq[Seq[Double]],
              codebooks: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(PqScoreExpr(ColumnBridge.expression(q),
      ColumnBridge.expression(enc), coarse, codebooks))

  /** Register all as SQL functions on the session. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_extract_text", exprs => ExtractTextExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_extract_links", exprs => ExtractLinksExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_head_meta", exprs => HeadMetaExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_resolved_links", exprs => {
        require(exprs.length == 2,
          s"graft_resolved_links(html, url) takes 2 arguments, got ${exprs.length}")
        ResolvedLinksExpr(exprs.head, exprs(1))
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_token_count", exprs => TokenCountExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_simhash64", exprs => SimHash64Expr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_lang_best", exprs => LangBestExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_url_canon", exprs => UrlCanonExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_url_host", exprs => UrlHostExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_url_path", exprs => UrlPathExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_url_resolve", exprs => {
        require(exprs.length == 2,
          s"graft_url_resolve(base, ref) takes 2 arguments, got ${exprs.length}")
        UrlResolveExpr(exprs.head, exprs(1))
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_nfc", exprs => NfcExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_srp_buckets", exprs => {
        // clean errors at resolution time: a raw exprs(1) on a 3-arg call
        // would throw IndexOutOfBounds, and eval of a non-foldable arg on an
        // empty row an obscure eval-time error instead of this message
        require(exprs.length == 4,
          s"graft_srp_buckets(v, nTables, nPlanes, dim) takes 4 arguments, got ${exprs.length}")
        def intArg(i: Int, name: String): Int = {
          require(exprs(i).foldable, s"graft_srp_buckets: $name must be a literal")
          exprs(i).eval(InternalRow.empty).asInstanceOf[Number].intValue
        }
        SrpBucketsExpr(exprs.head,
          intArg(1, "nTables"), intArg(2, "nPlanes"), intArg(3, "dim"))
      }, "scala_udf")
  }
}
