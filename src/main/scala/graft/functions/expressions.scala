package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression,
  UnsafeArrayData, XxHash64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Burl, DuplicateSegments, MurmurHash3Bubing, Robots}

/** Catalyst scalar expressions for the crawl engine (SURVEY.md §2.11).
  *
  * The per-URL expressions (`Murmur64Bubing`, `BurlParse`, `BurlParseEach`,
  * `BurlPart`, `DuplicateSegmentsLT`, `LowerRoot`, `IpOfHost`) are
  * whole-stage-codegen'd as static calls into `graft.core`: they run on
  * every outlink of every round, where a `CodegenFallback` would evaluate
  * its whole argument subtree interpretively, once per reference.
  * `PlaneBucket` is codegen'd the same way, into [[PlaneBuckets]]. The
  * robots, digest and near-dup expressions use interpreted eval
  * (`CodegenFallback`).
  */

/** BUbiNG 64-bit MurmurHash3 of a string/binary column
  * (reference `bubing/util/MurmurHash3.java:85-189`). */
case class Murmur64Bubing(child: Expression, seed: Long) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any = child.dataType match {
    case StringType =>
      val b = input.asInstanceOf[UTF8String].getBytes
      MurmurHash3Bubing.hash(b, 0, b.length, seed)
    case BinaryType =>
      val b = input.asInstanceOf[Array[Byte]]
      MurmurHash3Bubing.hash(b, 0, b.length, seed)
    case other => throw new IllegalArgumentException(s"murmur64_bubing: unsupported type $other")
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("mmBytes")
      child.dataType match {
        case StringType =>
          s"""byte[] $bytes = $c.getBytes();
             |${ev.value} = graft.core.MurmurHash3Bubing.hash($bytes, 0, $bytes.length, ${seed}L);
             |""".stripMargin
        case _ =>
          s"${ev.value} = graft.core.MurmurHash3Bubing.hash($c, 0, $c.length, ${seed}L);"
      }
    })
  override protected def withNewChildInternal(newChild: Expression): Murmur64Bubing = copy(child = newChild)
  override def prettyName: String = "murmur64_bubing"
}

/** A long "literal" carried as a REFERENCE OBJECT instead of being
  * inlined into generated code: structurally identical plans that differ
  * only in this value produce byte-identical codegen source, so the
  * crawler's per-round plans (which embed `now = round`) hit the codegen
  * cache instead of recompiling ~200 stages every round. */
case class RefLong(value: Long, tag: String) extends org.apache.spark.sql.catalyst.expressions.LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false // keep it out of constant folding
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(s"refLong_$tag", java.lang.Long.valueOf(value))
    ev.copy(
      code = code"final long ${ev.value} = ((java.lang.Long) $ref).longValue();",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override def prettyName: String = "ref_long"
}

/** Base for interpreted (non-codegen) string->string scalar expressions. */
abstract class InterpretedUnary extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback

/** A string -> string expression computed by ONE static `graft.core` call
  * (`fn` for interpreted eval, `staticFn` its fully qualified name for
  * generated code); a null result is SQL null, hence `nullable` regardless
  * of child nullability. */
abstract class StaticStringUnary extends UnaryExpression {
  protected def fn(s: String): String
  protected def staticFn: String
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = {
    val out = fn(input.asInstanceOf[UTF8String].toString)
    if (out == null) null else UTF8String.fromString(out)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val out = ctx.freshName("out")
      s"""String $out = $staticFn($c.toString());
         |if ($out == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = UTF8String.fromString($out); }
         |""".stripMargin
    })
}

/** BURL normalization (reference `bubing/util/BURL.java:132-260`); null for
  * malformed specs. */
case class BurlParse(child: Expression) extends StaticStringUnary {
  override protected def fn(s: String): String = Burl.parse(s)
  override protected def staticFn: String = "graft.core.Burl.parse"
  override protected def withNewChildInternal(newChild: Expression): BurlParse = copy(child = newChild)
  override def prettyName: String = "burl_parse"
}

/** [[BurlParse]] over each element of a string array (null stays null):
  * lets an explode emit parsed URLs, so the filters above it read the
  * parse instead of repeating it per atom. */
case class BurlParseEach(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullSafeEval(input: Any): Any = BurlArrays.parseEach(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BurlArrays.parseEach($c)")
  override protected def withNewChildInternal(newChild: Expression): BurlParseEach = copy(child = newChild)
  override def prettyName: String = "burl_parse_each"
}

/** Static helper shared by interpreted eval and generated code. */
object BurlArrays {
  def parseEach(specs: ArrayData): ArrayData = {
    val out = new Array[Any](specs.numElements())
    var i = 0
    while (i < out.length) {
      if (!specs.isNullAt(i)) {
        val u = Burl.parse(specs.getUTF8String(i).toString)
        if (u != null) out(i) = UTF8String.fromString(u)
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Decomposition of a normalized BURL (reference `BURL.java:377-477`).
  * `part` is one of scheme|host|schemeAuthority|pathQuery|path. */
case class BurlPart(child: Expression, part: String) extends StaticStringUnary {
  // the graft.core.Burl method behind each part, for eval and for codegen
  private lazy val (method, partFn) = part match {
    case "scheme"          => ("scheme", Burl.scheme _)
    case "host"            => ("host", Burl.host _)
    case "schemeAuthority" => ("schemeAndAuthority", Burl.schemeAndAuthority _)
    case "pathQuery"       => ("pathAndQuery", Burl.pathAndQuery _)
    case "path"            => ("path", Burl.path _)
    case other             => throw new IllegalArgumentException(s"unknown burl part: $other")
  }
  override protected def fn(s: String): String = partFn(s)
  override protected def staticFn: String = s"graft.core.Burl.$method"
  override protected def withNewChildInternal(newChild: Expression): BurlPart = copy(child = newChild)
  override def prettyName: String = s"burl_$part"
}

/** Lower-case with JVM `Locale.ROOT` semantics (`String.toLowerCase`, as
  * the reference's filters do). Spark's `lower` maps case through ICU,
  * whose one-time class and data load stalls the first stage that runs
  * it; this expression never touches ICU. */
case class LowerRoot(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(input.asInstanceOf[UTF8String].toString.toLowerCase(java.util.Locale.ROOT))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"UTF8String.fromString($c.toString().toLowerCase(java.util.Locale.ROOT))")
  override protected def withNewChildInternal(newChild: Expression): LowerRoot = copy(child = newChild)
  override def prettyName: String = "lower_root"
}

/** Deterministic synthetic DNS (stands in for `frontier/dns/FakeResolver`). */
case class IpOfHost(child: Expression, space: Long) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Burl.ipOfHost(input.asInstanceOf[UTF8String].toString, space)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.Burl.ipOfHost($c.toString(), ${space}L)")
  override protected def withNewChildInternal(newChild: Expression): IpOfHost = copy(child = newChild)
  override def prettyName: String = "ip_of_host"
}

/** Random-hyperplane LSH bucket of an `array<double>` (bit p = sign of
  * the vector's dot product with plane p's ±1 weights), whole-stage-
  * codegen'd as one static call into [[PlaneBuckets]]. Never null: a null
  * vector buckets to 0, like a null plane sum. */
case class PlaneBucket(child: Expression, planes: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    PlaneBuckets.bucket(child.eval(input).asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      |final long ${ev.value} = ${c.isNull} ? 0L :
      |  graft.functions.PlaneBuckets.bucket(${c.value}, $planes);""".stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): PlaneBucket = copy(child = newChild)
  override def prettyName: String = "plane_bucket"
}

/** The one plane-bucket kernel, shared by interpreted eval, generated code
  * and driver-side callers (a query vector's bucket). It reproduces the
  * SQL formula `Σ_p (aggregate(zip_with(v, sequence(0, size(v) - 1),
  * (x, i) -> x * w(p, i)), 0.0, +) >= 0 ? 1 : 0) << p` bit for bit, edge
  * cases included. */
object PlaneBuckets {
  private val tables = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Array[Array[Double]]]()

  /** The ±1 weights w(p, i) = `pmod(xxhash64("p_i"), 2) * 2 - 1` (Spark
    * XxHash64, seed 42) for `planes` × `dim`, computed once per JVM. */
  private def weights(planes: Int, dim: Int): Array[Array[Double]] =
    tables.computeIfAbsent(java.lang.Long.valueOf((planes.toLong << 32) | dim), _ =>
      Array.tabulate(planes, dim) { (p, i) =>
        val h = XxHash64(Seq(Literal(s"${p}_$i")), 42L).eval().asInstanceOf[Long]
        (java.lang.Math.floorMod(h, 2L) * 2L - 1L).toDouble
      })

  /** Bit p is 1 when the left fold `Σ v[i] * w(p, i)` from 0.0 is >= 0 or
    * NaN (Spark's `>=` orders NaN above every value). A null or empty
    * vector, or one with a null element, is 0: the formula's plane sums
    * are all null then (`sequence(0, -1)` has two entries, so the zip of
    * an empty vector pads it with nulls). */
  def bucket(v: ArrayData, planes: Int): Long = {
    val n = if (v == null) 0 else v.numElements()
    if (n == 0) return 0L
    var i = 0
    while (i < n) { if (v.isNullAt(i)) return 0L; i += 1 }
    val w = weights(planes, n)
    var b = 0L
    var p = 0
    while (p < planes) {
      val wp = w(p)
      var acc = 0.0
      i = 0
      while (i < n) { acc += v.getDouble(i) * wp(i); i += 1 }
      if (acc >= 0 || acc.isNaN) b |= 1L << p
      p += 1
    }
    b
  }

  /** The bucket of a driver-side vector, such as an ANN query. */
  def bucket(v: Array[Double], planes: Int): Long =
    bucket(UnsafeArrayData.fromPrimitiveArray(v), planes)
}

/** robots.txt check: true iff pathQuery is allowed by the sorted prefix-free
  * disallow filter (reference `URLRespectsRobots.java:214-227`). */
case class RespectsRobots(left: Expression, right: Expression) extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(pathQuery: Any, prefixes: Any): Any = {
    val pq = pathQuery.asInstanceOf[UTF8String].toString
    val arr = prefixes.asInstanceOf[ArrayData]
    val filter = new Array[String](arr.numElements())
    var i = 0
    while (i < filter.length) { filter(i) = arr.getUTF8String(i).toString; i += 1 }
    Robots.allowed(filter, pq)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RespectsRobots =
    copy(left = l, right = r)
  override def prettyName: String = "respects_robots"
}

/** DuplicateSegmentsLessThan(k) filter
  * (reference `warc/filters/DuplicateSegmentsLessThan.java:50-130`). */
case class DuplicateSegmentsLT(child: Expression, threshold: Int) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(input: Any): Any =
    DuplicateSegments.lessThan(input.asInstanceOf[UTF8String].toString, threshold)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.core.DuplicateSegments.lessThan($c.toString(), $threshold)")
  override protected def withNewChildInternal(newChild: Expression): DuplicateSegmentsLT = copy(child = newChild)
  override def prettyName: String = "duplicate_segments_lt"
}

/** Page digest over the parsed span sequence, following the reference's
  * digest semantics (`bubing/parser/HTMLParser.java:173-299`,
  * `DigestAppendable.java:228-239`):
  *   - hasher is seeded with host + NUL (so identical content on different
  *     hosts digests differently);
  *   - digit runs and whitespace runs in text collapse to a single space
  *     (HTMLParser.java:249-262);
  *   - media refs are mixed in quoted between NULs (analog of the
  *     iframe/frame src quoting, HTMLParser.java:283-291);
  *   - for 3xx responses the location is mixed in between NULs
  *     (HTMLParser.java:636-643).
  * Result: lowercase hex MD5 string. Inputs: (host, spans, status, location).
  */
case class DigestOfSpans(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(children.size == 4, "digest_of_spans(host, spans, status, location)")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val host = children(0).eval(input)
    val spans = children(1).eval(input)
    if (host == null || spans == null) return null
    val status = children(2).eval(input) match { case null => 200; case i: Int => i }
    val location = children(3).eval(input) match { case null => ""; case s: UTF8String => s.toString }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(host.asInstanceOf[UTF8String].getBytes)
    md.update(0.toByte)
    val arr = spans.asInstanceOf[ArrayData]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < arr.numElements()) {
      val span = arr.getStruct(i, 4)
      if (!span.isNullAt(0)) {
        val kind = span.getUTF8String(0).toString
        if (kind == "text" && !span.isNullAt(1)) {
          appendCoalesced(sb, span.getUTF8String(1).toString)
        } else if (kind == "media" && !span.isNullAt(2)) {
          sb.append(' ').append('"').append(span.getUTF8String(2).toString).append('"').append(' ')
        }
      }
      i += 1
    }
    md.update(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (status / 100 == 3) {
      md.update(0.toByte)
      md.update(location.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    val hex = md.digest().map(b => f"$b%02x").mkString
    UTF8String.fromString(hex)
  }
  /** Digit runs and whitespace runs collapse to one space (HTMLParser.java:249-262). */
  private def appendCoalesced(sb: java.lang.StringBuilder, text: String): Unit = {
    var i = 0
    var lastWasSpace = sb.length() > 0 && sb.charAt(sb.length() - 1) == ' '
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isDigit(c) || Character.isWhitespace(c)) {
        if (!lastWasSpace) { sb.append(' '); lastWasSpace = true }
      } else { sb.append(c); lastWasSpace = false }
      i += 1
    }
  }
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): DigestOfSpans =
    copy(children = newChildren)
  override def prettyName: String = "digest_of_spans"
}

/** Static probe helper shared by interpreted eval and generated code. */
object BloomBank {
  def mightContain(fs: Array[org.apache.spark.util.sketch.BloomFilter], h: Long): Boolean = {
    var i = 0
    while (i < fs.length) { if (fs(i).mightContainLong(h)) return true; i += 1 }
    false
  }
  def unwrap(bank: Array[org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]])
      : Array[org.apache.spark.util.sketch.BloomFilter] = bank.map(_.value)
  def unwrap(bank: Seq[org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]])
      : Array[org.apache.spark.util.sketch.BloomFilter] = bank.map(_.value).toArray
}

/** Codegen'd membership probe against a BANK of individually-broadcast
  * bloom filters, true iff any of them might contain the value (the
  * scan-probe sieve's seen-store prefilter). As a Scala UDF it forced a
  * codegen->Scala boundary per row on the widest stream; as a native
  * expression the prefilter stays inside whole-stage codegen.
  *
  * The bank is a Seq (NOT an Array) so case-class equality is structural:
  * two probes over the same broadcast handles compare equal, keeping
  * subexpression elimination / plan canonicalization effective. */
case class MightContainBank(child: Expression,
    bank: Seq[org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]])
  extends UnaryExpression {
  override def dataType: DataType = BooleanType
  @transient private lazy val filters = BloomBank.unwrap(bank)
  override def nullSafeEval(input: Any): Any =
    BloomBank.mightContain(filters, input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bankRef = ctx.addReferenceObj("bankRefs", bank.toArray,
      "org.apache.spark.broadcast.Broadcast[]")
    // unwrap the broadcasts ONCE per task, not per row
    val arr = ctx.addMutableState("org.apache.spark.util.sketch.BloomFilter[]", "bloomArr",
      v => s"$v = graft.functions.BloomBank.unwrap($bankRef);")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BloomBank.mightContain($arr, $c);")
  }
  override protected def withNewChildInternal(newChild: Expression): MightContainBank = copy(child = newChild)
  override def prettyName: String = "might_contain_bank"
}

/** Modular polynomial (base-31) string hashing: the ANSI-SQL-expressible
  * hash family behind the `mod > 0` twin mode of [[SimHash64]],
  * [[MinHashes]] and [[RollingFingerprint]]. A DuckDB oracle can recompute
  * `fold((acc, c) => (acc*31 + c) % mod)` from the direct definition, so
  * plugging this hash into the UNCHANGED pipeline code (banding, skew
  * caps, self-joins, rolling-update recurrences) makes the whole pipeline
  * driver-checkable; the production murmur-based hashes are not
  * SQL-expressible, which is why their queries are rows-only. */
private[graft] object PolyHash {
  /** Direct polynomial hash of text[from, until) mod `mod`. */
  def hash(text: String, from: Int, until: Int, mod: Long): Long = {
    var h = 0L
    var i = from
    while (i < until) { h = (h * 31L + text.charAt(i)) % mod; i += 1 }
    h
  }
  /** Same fold over arbitrary values (e.g. unsigned payload bytes) —
    * ONE definition for every twin-mode oracle to mirror. */
  def hash(value: Int => Long, len: Int, mod: Long): Long = {
    var h = 0L
    var i = 0
    while (i < len) { h = (h * 31L + value(i)) % mod; i += 1 }
    h
  }
}

/** SimHash-64 over whitespace tokens: sign-sum of per-token murmur hashes.
  * Standard Charikar construction (public algorithm). With `mod > 0` the
  * token hash is the SQL-expressible [[PolyHash]] (twin mode: only the
  * low ~30 signature bits can be set; the sign-sum and banding logic are
  * identical). */
case class SimHash64(child: Expression, mod: Long = 0L) extends InterpretedUnary {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val counts = new Array[Int](64)
    var start = 0
    val n = text.length
    var i = 0
    while (i <= n) {
      if (i == n || text.charAt(i) == ' ') {
        if (i > start) {
          val h =
            if (mod > 0) PolyHash.hash(text, start, i, mod)
            else MurmurHash3Bubing.hashString(text.substring(start, i))
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
  override protected def withNewChildInternal(newChild: Expression): SimHash64 = copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** MinHash signature: `n` min-hashes over character `k`-shingles, using
  * seeded murmur64 per hash function. Returns array<long> of length n.
  * With `mod > 0` (twin mode) the per-shingle base hash is the
  * SQL-expressible [[PolyHash]], maintained with the ROLLING recurrence
  * `h' = ((h - c_out*31^(k-1))*31 + c_in) mod m` — one hash per shingle in
  * O(1) — while the DuckDB oracle recomputes every shingle from the
  * direct O(k) definition, so a driver green checks the rolling-update
  * algebra, not just the banding. Remixes become affine mod m. */
case class MinHashes(child: Expression, k: Int, n: Int, mod: Long = 0L) extends InterpretedUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val mins = Array.fill(n)(Long.MaxValue)
    if (text.length >= k) {
      if (mod > 0) {
        // pow = 31^(k-1) mod m for the rolling window subtract
        var pow = 1L
        var p = 0
        while (p < k - 1) { pow = pow * 31L % mod; p += 1 }
        var base = PolyHash.hash(text, 0, k, mod)
        var i = 0
        val last = text.length - k
        while (i <= last) {
          var j = 0
          while (j < n) {
            val h = ((2L * j + 1L) * base + j * 7919L) % mod
            if (h < mins(j)) mins(j) = h
            j += 1
          }
          if (i < last) {
            val out = text.charAt(i).toLong * pow % mod
            base = ((base - out + mod) * 31L + text.charAt(i + k)) % mod
          }
          i += 1
        }
      } else {
        var i = 0
        val last = text.length - k
        while (i <= last) {
          val base = MurmurHash3Bubing.hashString(text.substring(i, i + k))
          var j = 0
          while (j < n) {
            // Distinct hash functions via affine remix of the base hash
            // (one string hash per shingle, n cheap remixes).
            val h = java.lang.Long.rotateLeft(base, j % 64) * (2 * j + 1) + j * 0x9e3779b97f4a7c15L
            if (h < mins(j)) mins(j) = h
            j += 1
          }
          i += 1
        }
      }
    }
    new GenericArrayData(mins)
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashes = copy(child = newChild)
  override def prettyName: String = "minhashes"
}

/** Rolling (Rabin-Karp, base 31) 64-bit fingerprint of a document: the min
  * rolling hash over all windows of `window` chars — a shift-resistant
  * document fingerprint (winnowing-style, public technique). With
  * `mod > 0` (twin mode) the hash is the SQL-expressible [[PolyHash]] with
  * no avalanche mix, still maintained by the rolling recurrence; the
  * DuckDB oracle recomputes every window from the direct definition, so a
  * driver green checks the rolling-update algebra. */
case class RollingFingerprint(child: Expression, window: Int, mod: Long = 0L) extends InterpretedUnary {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val n = text.length
    if (n == 0) return 0L
    if (mod > 0) {
      if (n <= window) return PolyHash.hash(text, 0, n, mod)
      var pow = 1L
      var p = 0
      while (p < window - 1) { pow = pow * 31L % mod; p += 1 }
      var h = PolyHash.hash(text, 0, window, mod)
      var min = h
      var i = window
      while (i < n) {
        val out = text.charAt(i - window).toLong * pow % mod
        h = ((h - out + mod) * 31L + text.charAt(i)) % mod
        if (h < min) min = h
        i += 1
      }
      return min
    }
    if (n <= window) return MurmurHash3Bubing.hashString(text)
    var pow = 1L
    var i = 0
    while (i < window - 1) { pow *= 31L; i += 1 }
    var h = 0L
    i = 0
    while (i < window) { h = h * 31L + text.charAt(i); i += 1 }
    var min = mix(h)
    i = window
    while (i < n) {
      h = (h - text.charAt(i - window) * pow) * 31L + text.charAt(i)
      val m = mix(h)
      if (m < min) min = m
      i += 1
    }
    min
  }
  @inline private def mix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h
  }
  override protected def withNewChildInternal(newChild: Expression): RollingFingerprint = copy(child = newChild)
  override def prettyName: String = "rolling_fingerprint"
}
