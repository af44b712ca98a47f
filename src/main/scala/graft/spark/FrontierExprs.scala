package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, LeafExpression, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the frontier's URL/hash kernels.
  * Each generates a direct static call (stays inside WholeStageCodegen,
  * no UDF ser/de). Null-safety comes from UnaryExpression.eval's default
  * null short-circuit. */
abstract class StringKernel extends UnaryExpression {
  protected def kernel: String // method name on graft.spark.SparkFun
  override def dataType: DataType = StringType
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.SparkFun.$kernel($c)")
}

case class CanonicalizeUrl(child: Expression) extends StringKernel {
  protected def kernel = "canonicalize"
  override protected def nullSafeEval(v: Any): Any =
    SparkFun.canonicalize(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class UrlFingerprint(child: Expression) extends StringKernel {
  protected def kernel = "urlFingerprint"
  override protected def nullSafeEval(v: Any): Any =
    SparkFun.urlFingerprint(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class HostnameLocalFingerprint(child: Expression) extends StringKernel {
  protected def kernel = "hostnameLocalFingerprint"
  override protected def nullSafeEval(v: Any): Any =
    SparkFun.hostnameLocalFingerprint(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class UrlHost(child: Expression) extends StringKernel {
  protected def kernel = "urlHost"
  override protected def nullSafeEval(v: Any): Any =
    SparkFun.urlHost(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class Sld(child: Expression) extends StringKernel {
  protected def kernel = "sld"
  override protected def nullSafeEval(v: Any): Any =
    SparkFun.sld(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class IsHomePage(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(v: Any): Any =
    SparkFun.isHomePage(v.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.SparkFun.isHomePage($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class SignedCrc32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(v: Any): Any =
    SparkFun.signedCrc32(v.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.SparkFun.signedCrc32($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class SeenKey(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    SparkFun.seenKey(v.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.SparkFun.seenKey($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Crc32NamePartitioner as an expression: python-mod(signed_crc32(host), n). */
case class HostPartition(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(host: Any, n: Any): Any =
    SparkFun.hostPartition(host.asInstanceOf[UTF8String], n.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, n) => s"graft.spark.SparkFun.hostPartition($h, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/** robots.txt allow/deny predicate (F3). */
case class RobotsCanFetch(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(url: Any, body: Any): Any =
    SparkFun.robotsCanFetch(url.asInstanceOf[UTF8String], body.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (u, b) => s"graft.spark.SparkFun.robotsCanFetch($u, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/** is_valid_robotstxt (discovery/__init__.py:78-86) as a native
  * expression — gates what a fetched robots body is trusted for (an
  * invalid body schedules the home page only, no sitemap probes). */
case class RobotsValid(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(body: Any): Any =
    SparkFun.robotsValid(body.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.spark.SparkFun.robotsValid($b)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(c)
}

/** Partitioned-Bloom URL-seen probe: `mightContain(blooms(bucket), key)`
  * as a native expression — stays inside whole-stage codegen (the naive
  * alternative, a Scala UDF, pays row ser/de in the hottest link-filter
  * stage). The broadcast bloom map rides as a plan reference object. */
case class BloomSeenProbe(
    blooms: org.apache.spark.broadcast.Broadcast[
      Map[Int, org.apache.spark.util.sketch.BloomFilter]],
    left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(bucket: Any, key: Any): Any =
    SparkFun.bloomProbe(blooms, bucket.asInstanceOf[Int], key.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bloomSeenBc", blooms,
      classOf[Object].getName)
    defineCodeGen(ctx, ev, (b, k) => s"graft.spark.SparkFun.bloomProbe($bcRef, $b, $k)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** A long the generated code reads from the plan's reference array
  * instead of inlining it as a Java literal (the way `BloomSeenProbe`
  * carries its broadcast). Plans that differ only in this value — the
  * epoch in every per-epoch plan — generate the same class text, so
  * Spark's code cache compiles their shape once. Not foldable: constant
  * folding would turn it back into a literal. */
case class BoundLong(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("boundLong", java.lang.Long.valueOf(value),
      classOf[java.lang.Long].getName)
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();",
      isNull = FalseLiteral)
  }
}

/** One batch's pages for the in-batch seen check (`InBatchSeen`), built
  * on the driver: by fingerprint, each page's batch-order key, or null
  * for a page every link sees (a failed fetch, a redirect alias). A page
  * is seen by a link when it is at or before the link's parent in the
  * batch order: keys compare lexicographically, column `i` ascending iff
  * `ascending(i)`, as SQL's three-valued `a < b OR (a = b AND rest)` with
  * an unknown result (a null key) counting as seen. */
final class BatchPages(keyTypes: Seq[DataType], ascending: Seq[Boolean],
    pages: Map[UTF8String, Seq[InternalRow]]) extends Serializable {
  @transient private lazy val orderings =
    keyTypes.map(org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering).toArray
  private val asc = ascending.toArray

  def seen(fingerprint: UTF8String, parent: InternalRow): Boolean =
    pages.get(fingerprint).exists(_.exists(p => p == null || atOrBefore(p, parent)))

  private def atOrBefore(page: InternalRow, parent: InternalRow): Boolean = {
    // `rest` of the lexicographic comparison, right to left; null = unknown
    var rest: java.lang.Boolean = true
    var i = orderings.length - 1
    while (i >= 0) {
      rest =
        if (page.isNullAt(i) || parent.isNullAt(i)) null
        else {
          val dt = keyTypes(i)
          val c = orderings(i).compare(page.get(i, dt), parent.get(i, dt))
          if (if (asc(i)) c < 0 else c > 0) true
          else if (c != 0) false
          else rest
        }
      i -= 1
    }
    rest == null || rest
  }
}

/** Whether a link's target is a page of this batch that the link sees
  * (`BatchPages.seen`): `children` are the link's fingerprint, then its
  * parent's batch-order key, typed as the pages' keys. The pages ride in
  * a broadcast variable read from the plan's reference array, so plans
  * of different batches generate the same class text; a null
  * fingerprint is never seen. */
case class InBatchSeen(pages: org.apache.spark.broadcast.Broadcast[BatchPages],
    children: Seq[Expression]) extends Expression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val fp = children.head.eval(input)
    fp != null && pages.value.seen(fp.asInstanceOf[UTF8String],
      new GenericInternalRow(children.tail.map(_.eval(input)).toArray))
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("batchPages", pages, classOf[Object].getName)
    val fp = children.head.genCode(ctx)
    val keys = children.tail.map(_.genCode(ctx))
    val arr = ctx.freshName("parentKey")
    val fill = keys.zip(children.tail).zipWithIndex.map { case ((k, e), i) =>
      val boxed =
        if (CodeGenerator.isPrimitiveType(e.dataType))
          s"${CodeGenerator.boxedType(e.dataType)}.valueOf(${k.value})"
        else k.value.toString
      s"${k.code}\n$arr[$i] = ${k.isNull} ? null : $boxed;"
    }.mkString("\n")
    ev.copy(code = code"""
      ${fp.code}
      Object[] $arr = new Object[${keys.length}];
      $fill
      boolean ${ev.value} = !${fp.isNull} && graft.spark.SparkFun.inBatchSeen($ref,
        ${fp.value}, new ${classOf[GenericInternalRow].getName}($arr));""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

/** A string-keyed lookup bound into the plan: the value `table` holds for
  * the child's value, null when it holds none. Values are Catalyst
  * values of `dataType`, an object (not a primitive) type. The table
  * rides in a broadcast variable read from the plan's reference array
  * (as `InBatchSeen`'s pages do), so the class text does not change
  * with its contents. */
case class BoundLookup(table: org.apache.spark.broadcast.Broadcast[Map[UTF8String, Any]],
    dataType: DataType, child: Expression) extends UnaryExpression {
  override def nullable: Boolean = true
  // folding would inline the table's value into the generated code
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val k = child.eval(input)
    if (k == null) null else table.value.getOrElse(k.asInstanceOf[UTF8String], null)
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("boundLookup", table, classOf[Object].getName)
    val k = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${k.code}
      $javaType ${ev.value} = null;
      if (!${k.isNull}) {
        ${ev.value} = ($javaType) graft.spark.SparkFun.boundLookup($ref, ${k.value});
      }
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-level API. */
object FrontierExprs {
  import org.apache.spark.sql.functions.lit
  import org.apache.spark.sql.GraftColumnBridge
  private def col(e: Expression): Column = GraftColumnBridge.toColumn(e)
  private def expr(c: Column): Expression = GraftColumnBridge.toExpression(c)

  def canonical_url(c: Column): Column = col(CanonicalizeUrl(expr(c)))
  def url_fingerprint(c: Column): Column = col(UrlFingerprint(expr(c)))
  def hostname_local_fingerprint(c: Column): Column = col(HostnameLocalFingerprint(expr(c)))
  def url_host(c: Column): Column = col(UrlHost(expr(c)))
  def signed_crc32(c: Column): Column = col(SignedCrc32(expr(c)))
  def seen_key(c: Column): Column = col(SeenKey(expr(c)))
  def host_partition(c: Column, n: Int): Column =
    col(HostPartition(expr(c), expr(lit(n))))
  def robots_can_fetch(url: Column, body: Column): Column =
    col(RobotsCanFetch(expr(url), expr(body)))
  def robots_valid(body: Column): Column = col(RobotsValid(expr(body)))
  def sld(c: Column): Column = col(Sld(expr(c)))
  def is_home_page(c: Column): Column = col(IsHomePage(expr(c)))
  /** justify_request_score_by_hostname (discovery/__init__.py:47-50):
    * `floor(abs(crc32s(host)/2147483647)*10)/10 + max(0.01, score-0.01)/10`
    * — embeds the host hash as the score's integer decile so one domain's
    * pages cluster in the queue's score bands.
    *
    * DELIBERATE signedness choice: we use SIGNED crc32 + abs, giving
    * deciles in [0, 1.0] and total scores ≤ ~1.1 (the py2-zlib reading of
    * the formula, and the better-behaved one — every score fits the
    * queue's [0,1] band axis). Python 3's zlib.crc32 is unsigned, so a
    * py3 reference deployment spreads abs(crc/2^31−1) over [0, 2) and
    * ~half of all hostnames land in deciles 1.0–1.9; we intentionally do
    * NOT reproduce that (scores > 1 would all clamp into the last band,
    * destroying the per-domain clustering the formula exists for). */
  def justify_score(host: Column, score: Column): Column = {
    import org.apache.spark.sql.functions.{floor, abs, greatest}
    floor(abs(signed_crc32(host).cast("double") / 2147483647.0) * 10) / 10.0 +
      greatest(lit(0.01), score - 0.01) / 10.0
  }
  def bound_long(v: Long): Column = col(BoundLong(v))
  /** `InBatchSeen` of a link: its `fingerprint` and its parent's
    * batch-order key `parentKey` */
  def in_batch_seen(pages: org.apache.spark.broadcast.Broadcast[BatchPages],
      fingerprint: Column, parentKey: Seq[Column]): Column =
    col(InBatchSeen(pages, (fingerprint +: parentKey).map(expr)))
  def bound_lookup(table: org.apache.spark.broadcast.Broadcast[Map[UTF8String, Any]],
      dataType: DataType, key: Column): Column =
    col(BoundLookup(table, dataType, expr(key)))
  def bloom_seen_probe(
      blooms: org.apache.spark.broadcast.Broadcast[
        Map[Int, org.apache.spark.util.sketch.BloomFilter]],
      bucket: Column, key: Column): Column =
    col(BloomSeenProbe(blooms, expr(bucket), expr(key)))
}
