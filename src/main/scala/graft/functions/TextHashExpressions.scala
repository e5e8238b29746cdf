package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Murmur3HashFunction, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row sketching expressions for the near-dup hot path.
  *
  * The higher-order-function formulations in [[graft.operators.NearDup]]
  * evaluate one interpreted lambda call per (seed x shingle) / (bit x token)
  * — ~5k interpreted steps per row. These expressions do the identical
  * arithmetic inside a single JVM method per row (CodegenFallback is fine:
  * the per-row call overhead is amortized over thousands of internal ops).
  *
  * Parity contract (oracle-enforced): [[MinHashSignature]] returns exactly
  * `transform(0..k-1, s -> min(md5(s || '_' || shingle)))` — hex strings and
  * all — and [[SimHash32]] exactly the majority-vote fingerprint over
  * `conv(substr(md5(token),1,8),16,10)` token hashes.
  */
private[graft] object HashUtil {
  private val tl = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))
  def md5(bytes: Array[Byte]*): Array[Byte] = {
    val d = tl.get(); d.reset()
    bytes.foreach(d.update)
    d.digest()
  }
  private val hexChars = "0123456789abcdef".toCharArray
  def hex(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length * 2)
    b.foreach { x => sb.append(hexChars((x >> 4) & 0xf)); sb.append(hexChars(x & 0xf)) }
    sb.toString
  }
  /** hex-string order == unsigned byte order (hex encoding is order-preserving). */
  def lessUnsigned(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }
}

/** NULL in, NULL out: a NULL shingle ARRAY yields a NULL signature (the
  * portable HOF `graft.operators.NearDup.minhashSigHof` yields `[null × k]`
  * there, because its outer `transform(0..k-1, …)` iterates the seed range
  * regardless — the one input on which the two differ). */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${child.dataType.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_signature"

  private lazy val seedPrefixes: Array[Array[Byte]] =
    (0 until numHashes).map(s => s"${s}_".getBytes("UTF-8")).toArray

  /** Matches the HOF form `transform(0..k-1, s -> array_min(...))` on edge
    * inputs too: null elements are skipped (array_min ignores NULLs) and an
    * array with no non-null elements yields an all-NULL signature (array_min
    * of nothing is NULL). The exposed SQL function `minhash_signature` can see
    * arbitrary arrays, so these corners are reachable outside NearDup. */
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = new Array[Array[Byte]](numHashes)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val shingle = arr.getUTF8String(i).getBytes
        var s = 0
        while (s < numHashes) {
          val d = HashUtil.md5(seedPrefixes(s), shingle)
          if (mins(s) == null || HashUtil.lessUnsigned(d, mins(s))) mins(s) = d
          s += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins.map(m =>
      if (m == null) null else UTF8String.fromString(HashUtil.hex(m))))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SimHash32(child: Expression) extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${child.dataType.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"

  /** Null elements are skipped (majority vote over the non-null tokens);
    * an array with no non-null tokens votes 0 on every bit -> fingerprint 0. */
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val ones = new Array[Int](32)
    var nTokens = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        nTokens += 1
        val d = HashUtil.md5(arr.getUTF8String(i).getBytes)
        // first 8 md5 hex chars == first 4 digest bytes, as unsigned 32-bit
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
                ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        var j = 0
        while (j < 32) {
          if (((h >> j) & 1L) == 1L) ones(j) += 1
          j += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 32) {
      if (2 * ones(j) > nTokens) fp |= (1L << j)
      j += 1
    }
    fp
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Karp-Rabin rolling hash (base 31, mod 1e9+7) over a string's code points —
  * the native form of `aggregate(transform(sequence(1, length(s)),
  * i -> ascii(substr(s, i, 1))), 0, (acc, c) -> (acc*31 + c) % 1000000007)`,
  * which costs ~10 interpreted expression evals per CHARACTER. Identical
  * result (ascii() returns the code point of the first character, exactly
  * what codePointAt yields). */
case class RollingHash32(child: Expression) extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${child.dataType.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash32"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Word-n-gram tally in one pass: total and DISTINCT n-gram counts over a
  * token array — the native form of
  * `size(tri)` / `size(array_distinct(tri))` with
  * `tri = transform(sequence(1, greatest(size(w)-(n-1), 1)),
  *                  i -> concat_ws(" ", slice(w, i, n)))`,
  * whose nested interpreted lambdas cost ~10 expression evals per TOKEN
  * (and whose first-run codegen alone was measured at seconds). Exact
  * parity with the HOF form, corners included: a short array (fewer than
  * `n` tokens) yields ONE truncated n-gram, null elements are skipped by
  * the join exactly like concat_ws. */
case class NGramStats(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "n-gram size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${child.dataType.simpleString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_ngrams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false)))
  override def prettyName: String = "ngram_stats"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sz = arr.numElements()
    val m = math.max(sz - (n - 1), 1)
    val seen = new java.util.HashSet[String](m * 2)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = i
      val end = math.min(i + n, sz)
      var first = true
      while (j < end) {
        if (!arr.isNullAt(j)) { // concat_ws skips nulls
          if (!first) sb.append(' ')
          sb.append(arr.getUTF8String(j).toString)
          first = false
        }
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](m.toLong, seen.size.toLong))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Normalize -> tokenize -> word-n-gram -> distinct in ONE pass over the
  * raw text — the native form of the gram-lane preamble
  * `array_distinct(transform(sequence(1, greatest(size(w)-(n-1), 1)),
  *                           i -> concat_ws(" ", slice(w, i, n))))` with
  * `w = split(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")), " ")`,
  * whose interpreted HOF chain measured ~0.8 ms PER DOC (the entire
  * q_kmv_sketch cost at sf0.1 was this preamble, not the sketch). Parity
  * with the HOF form, corners included: a text with no alphanumerics (or
  * empty) tokenizes to the single empty token — split("", " ") is [""] —
  * so the result is [""]; fewer than `n` tokens yield ONE truncated gram;
  * distinct preserves first-occurrence order like array_distinct.
  * Lowercasing is per-code-point (Character.toLowerCase) — identical to
  * `lower()` on ASCII (the oracle-gated regime); exotic one-to-many
  * Unicode lowerings differ from UTF8String.toLowerCase, and such chars
  * are non-[a-z0-9] separators either way. */
case class WordGrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "n-gram size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${child.dataType.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_grams"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val tokens = new java.util.ArrayList[String]()
    val cur = new java.lang.StringBuilder()
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val lc = Character.toLowerCase(cp)
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9'))
        cur.appendCodePoint(lc)
      else if (cur.length > 0) { tokens.add(cur.toString); cur.setLength(0) }
      i += Character.charCount(cp)
    }
    if (cur.length > 0) tokens.add(cur.toString)
    val m = tokens.size
    if (m == 0)                       // split("", " ") is [""]: one empty token
      return new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
    val count = math.max(m - (n - 1), 1)
    val seen = new java.util.LinkedHashSet[String](count * 2)
    val sb = new java.lang.StringBuilder()
    var g = 0
    while (g < count) {
      sb.setLength(0)
      var j = g
      val end = math.min(g + n, m)
      while (j < end) {
        if (j > g) sb.append(' ')
        sb.append(tokens.get(j))
        j += 1
      }
      seen.add(sb.toString)
      g += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** All unordered element pairs (i < j, input order preserved) of an array —
  * the native form of the co-occurrence kernel's nested HOF
  * `flatten(transform(items, (x, i) ->
  *    transform(slice(items, i + 2, size(items) - i - 1), y ->
  *      struct(x AS item_a, y AS item_b))))`,
  * which pays interpreted lambda dispatch plus an O(n) `slice` COPY per
  * outer element (O(n^2) copies per basket) before any real work. Output
  * order and null handling match the HOF exactly: outer index ascending,
  * inner ascending, null elements pass through as null struct fields. */
case class UnorderedPairs(child: Expression)
    extends UnaryExpression with CodegenFallback {

  private lazy val elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array, got ${child.dataType.simpleString}")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item_a", elemType, nullable = true),
    StructField("item_b", elemType, nullable = true))), containsNull = false)
  override def prettyName: String = "unordered_pairs"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val a = if (arr.isNullAt(i)) null else arr.get(i, elemType)
      var j = i + 1
      while (j < n) {
        val b = if (arr.isNullAt(j)) null else arr.get(j, elemType)
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](a, b))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass token-hash bucket histogram: `counts[pmod(hash(tok, seed), n)]++`
  * over a string array, the PPJoin+ suffix-filter sketch under
  * `NearDup.prefixCandidates` (NearDup.scala — the 16-int per-doc histogram
  * whose pairwise min-sum bounds |A∩B|). Replaces the portable HOF
  * `transform(sequence(0, n-1), k -> size(filter(sh, t -> pmod(hash(t), n) = k)))`
  * which rescans the whole array once PER BUCKET — n·|sh| interpreted lambda
  * steps and n·|sh| Murmur3 evaluations become |sh| hash calls in one JVM
  * loop.
  *
  * Parity contract with the HOF, corner for corner:
  *  - the hash is Spark's own `Murmur3HashFunction` at the same seed, so
  *    bucket assignment is bit-identical (a NULL element hashes to the seed
  *    itself — Spark's hash() of NULL leaves the accumulator unchanged —
  *    and therefore COUNTS, in bucket pmod(seed, n), exactly as the HOF's
  *    `pmod(hash(null), n) = k` comparison does);
  *  - a NULL input ARRAY yields `[null × n]`, never NULL: the HOF's outer
  *    transform iterates the (never-null) sequence literal, and each
  *    `size(filter(NULL, …))` is `size(NULL)` = NULL under the non-legacy
  *    sizeOfNull — so the expression itself is
  *    non-nullable with element nulls possible only for nullable input. */
case class BucketCounts(child: Expression, numBuckets: Int, seed: Int)
    extends UnaryExpression with CodegenFallback {
  require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${child.dataType.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = child.nullable)
  override def nullable: Boolean = false
  override def prettyName: String = "bucket_counts"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) new GenericArrayData(new Array[Any](numBuckets))
    else nullSafeEval(v)
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](numBuckets)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h =
        if (arr.isNullAt(i)) seed
        else Murmur3HashFunction.hash(
          arr.getUTF8String(i), StringType, seed.toLong).toInt
      val m = h % numBuckets
      counts(if (m < 0) m + numBuckets else m) += 1
      i += 1
    }
    new GenericArrayData(counts.map(c => c: Any))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass LSH band-key table: `[(b, md5(sig[b·r+1 … b·r+r] ⋈ '|')) × bands]`
  * over a minhash-signature array — `NearDup.bandFrame`'s per-band
  * slice + concat_ws + md5 transform collapsed into one JVM loop that
  * digests each signature element once, no intermediate slice arrays.
  *
  * Parity contract with the HOF
  * `transform(sequence(0, bands-1), b -> struct(b, md5(cast(concat_ws('|',
  * slice(sig, b·r+1, r)) as binary))))`:
  *  - concat_ws SKIPS null elements (no separator emitted for them), and a
  *    NULL or short array behaves like slice's truncation — an empty band
  *    digest is md5("") exactly as concat_ws over an empty/NULL slice
  *    yields "";
  *  - a NULL input array therefore yields the full band table with every
  *    key = md5("") — concat_ws never returns NULL for a non-null
  *    separator — so the expression is non-nullable with non-nullable
  *    struct fields, matching the HOF output type bit for bit. */
case class BandKeys(child: Expression, numBands: Int, rowsPerBand: Int)
    extends UnaryExpression with CodegenFallback {
  require(numBands > 0 && rowsPerBand > 0,
    s"numBands and rowsPerBand must be positive, got $numBands x $rowsPerBand")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${child.dataType.simpleString}")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("key", StringType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "band_keys"

  private val Sep = "|".getBytes("UTF-8")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val arr = if (v == null) null else v.asInstanceOf[ArrayData]
    val n = if (arr == null) 0 else arr.numElements()
    val out = new Array[Any](numBands)
    val parts = new scala.collection.mutable.ArrayBuffer[Array[Byte]](2 * rowsPerBand)
    var b = 0
    while (b < numBands) {
      parts.clear()
      val start = b * rowsPerBand
      val end = math.min(start + rowsPerBand, n)
      var i = start
      while (i < end) {
        if (!arr.isNullAt(i)) {
          if (parts.nonEmpty) parts += Sep
          parts += arr.getUTF8String(i).getBytes
        }
        i += 1
      }
      val digest = HashUtil.md5(parts.toSeq: _*)
      out(b) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](b, UTF8String.fromString(HashUtil.hex(digest))))
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TextHashFunctions {
  def rolling_hash32(s: Column): Column =
    ColumnBridge.column(RollingHash32(ColumnBridge.expression(s)))
  def minhash_signature(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shingles), numHashes))
  def simhash32(tokens: Column): Column =
    ColumnBridge.column(SimHash32(ColumnBridge.expression(tokens)))
  def ngram_stats(words: Column, n: Int): Column =
    ColumnBridge.column(NGramStats(ColumnBridge.expression(words), n))
  def word_grams(text: Column, n: Int): Column =
    ColumnBridge.column(WordGrams(ColumnBridge.expression(text), n))
  def unordered_pairs(items: Column): Column =
    ColumnBridge.column(UnorderedPairs(ColumnBridge.expression(items)))
  def bucket_counts(tokens: Column, numBuckets: Int, seed: Int): Column =
    ColumnBridge.column(BucketCounts(ColumnBridge.expression(tokens), numBuckets, seed))
  def band_keys(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    ColumnBridge.column(BandKeys(ColumnBridge.expression(sig), numBands, rowsPerBand))
}
