package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass tf-WEIGHTED MinHash state: tokenize → per-token tf capped at
  * `tfCap` → md5-32 of `tok#occ` for occ = 1..min(tf, cap) → the affine
  * MinHash signature AND the distinct expanded-hash set, as one codegen'd
  * call per row returning `struct<sig: array<bigint>, hset: array<bigint>>`
  * (null when the text has no non-empty tokens — mirroring the relational
  * chain, where a token-less doc never reaches the signature aggregation).
  *
  * Bit-identical to the relational expansion in `Dedup.weightedMinhashPairs`
  * (spec-pinned in DedupSpec): same tokenizer (`split(lower(text), "\\s+")`
  * with empties dropped), same single-digit salt (`tok || '#' || occ`, the
  * tfCap ≤ 9 injectivity contract), same md5-32 anchor and affine family as
  * [[MinhashMd5Sig]] — so the SQL oracle still replays the whole pair
  * pipeline. The relational form exploded Σ min(tf, cap) rows per doc
  * through a (doc, token) aggregation, a sequence explode, THREE persisted
  * corpus-sized frames, and a 64-column min aggregation; this kernel keeps
  * the whole expansion inside one projection, so the only materialized
  * frame is signature-sized (optimization r16, guide §2.3/§2.4).
  */
object WeightedMinhashSig {

  private val WhitespaceRe = UTF8String.fromString("\\s+")
  private val Mod = MinhashMd5Sig.Mod

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  // "#1".."#9" — tfCap is capped at 9 (single trailing digit keeps the
  // salt injective), so the suffixes are a fixed table
  private val salts: Array[UTF8String] =
    (0 to 9).map(occ => UTF8String.fromString("#" + occ)).toArray

  /** Null when the text carries no non-empty whitespace tokens. */
  def compute(text: UTF8String, tfCap: Int, numHashes: Int): InternalRow = {
    val toks = text.toLowerCase.split(WhitespaceRe, -1)
    // tf per distinct token (uncapped count, capped at use — matches
    // least(count(1), tfCap) over the exploded frame)
    val tf = new java.util.HashMap[UTF8String, Integer](toks.length * 2)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.numBytes() > 0) {
        val c = tf.get(t)
        tf.put(t, if (c == null) 1 else c + 1)
      }
      i += 1
    }
    if (tf.isEmpty) return null
    val as = new Array[Long](numHashes)
    val bs = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) { as(j) = MinhashMd5Sig.affineA(j); bs(j) = MinhashMd5Sig.affineB(j); j += 1 }
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val md = digests.get()
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val tok = e.getKey
      val w = math.min(e.getValue.intValue(), tfCap)
      var occ = 1
      while (occ <= w) {
        val digest = md.digest(UTF8String.concat(tok, salts(occ)).getBytes)
        // first 8 hex chars = first 4 digest bytes as an unsigned 32-bit
        // value (the conv(substring(md5, 1, 8), 16, 10) md5Hash32 contract)
        val h = ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
          ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
        seen.add(h)
        val hp = h % Mod
        j = 0
        while (j < numHashes) {
          val m = (as(j) * hp + bs(j)) % Mod
          if (m < mins(j)) mins(j) = m
          j += 1
        }
        occ += 1
      }
    }
    val set = new Array[Long](seen.size)
    val sit = seen.iterator()
    var n = 0
    while (sit.hasNext) { set(n) = sit.next(); n += 1 }
    new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(mins),
      UnsafeArrayData.fromPrimitiveArray(set)))
  }
}

/** `weighted_minhash_state(text)` — signature + expanded-hash set as one
  * codegen'd call.
  */
case class WeightedMinhashExpr(child: Expression, tfCap: Int, numHashes: Int)
    extends UnaryExpression {
  // checked here, where the values enter: tfCap > 9 breaks the single-digit
  // salt table, numHashes < 1 yields an empty signature every band agrees on
  require(tfCap >= 1 && tfCap <= 9, s"tfCap must be in [1, 9] (single-digit salt), got $tfCap")
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string child, got ${child.dataType}")

  override def dataType: DataType = StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("hset", ArrayType(LongType, containsNull = false), nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "weighted_minhash_state"

  override protected def nullSafeEval(input: Any): Any =
    WeightedMinhashSig.compute(input.asInstanceOf[UTF8String], tfCap, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val rowCls = classOf[InternalRow].getName
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = true;
      $rowCls ${ev.value} = null;
      if (!${childGen.isNull}) {
        ${ev.value} = graft.functions.WeightedMinhashSig.compute(
          ${childGen.value}, $tfCap, $numHashes);
        ${ev.isNull} = (${ev.value} == null);
      }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): WeightedMinhashExpr =
    copy(child = newChild)
}

object WeightedMinhashExpr {
  def state(text: Column, tfCap: Int, numHashes: Int): Column =
    ColumnBridge.column(WeightedMinhashExpr(ColumnBridge.expression(text), tfCap, numHashes))
}
