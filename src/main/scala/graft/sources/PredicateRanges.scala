package graft.sources

import java.util.Locale
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** The shared encoding that puts every zone-mappable column type on ONE
  * double number line, so a single per-file (min, max) rectangle serves
  * numeric, date, timestamp, AND string predicates. Each family's map is
  * order-preserving into double space:
  *
  *  - `numeric`: the value itself (decimals rescaled) — the r9 space.
  *  - `date`: days since epoch (parquet's own physical int32).
  *  - `timestamp`: microseconds since epoch, UTC-adjusted (parquet
  *    MICROS; MILLIS scale up) — exact in double through year ~2255.
  *  - `string`: the first [[strPrefixBytes]] UTF-8 bytes as a big-endian
  *    unsigned integer (missing bytes read as 0x00, the minimum byte, so
  *    truncation stays monotone). Monotone NON-STRICTLY w.r.t. Spark's
  *    UTF8String binary collation: x <= y  ⇒  enc(x) <= enc(y), which is
  *    all interval soundness needs — strings sharing a prefix collapse
  *    to one point and simply fail to prune each other. 6 bytes keep the
  *    integer under 2^48, exactly representable in double.
  *
  * Soundness at the type boundary: an encoded literal is comparable to
  * encoded column stats ONLY within one family — the per-family encode
  * REFUSES cross-family literals it cannot prove order-compatible
  * (string literals cast to numeric/date/timestamp through Spark's OWN
  * `Cast` in TRY mode, because that is exactly the coercion SQL applies
  * to the comparison; everything else fails open). */
private[sources] object ZoneCodec {
  val Numeric = "numeric"
  val DateF = "date"
  val TimestampF = "timestamp"
  val StringF = "string"
  val Unsupported = "unsupported"

  val strPrefixBytes = 6

  /** First 6 UTF-8 bytes, big-endian unsigned → an exact double. */
  def encodeStringPrefix(bytes: Array[Byte]): Double = {
    var v = 0L
    var i = 0
    while (i < strPrefixBytes) {
      v = (v << 8) | (if (i < bytes.length) bytes(i) & 0xffL else 0L)
      i += 1
    }
    v.toDouble
  }

  /** Conservative widening for bounds narrowed to double: each narrowing
    * step (int64/micros → double, decimal rescale) rounds to NEAREST, so
    * a recorded min can land ABOVE the true value by up to ~1.5 ulp —
    * and a rectangle that excludes a real row would prune a file that
    * holds matches. Two ulps per side cover the compounded rounding;
    * looser = less sharp, never wrong. */
  def widenLo(x: Double): Double = Math.nextDown(Math.nextDown(x))
  def widenHi(x: Double): Double = Math.nextUp(Math.nextUp(x))
}

/** Conservative per-column range + probe extraction from a filter
  * predicate — the bridge between an ordinary `Column` condition and the
  * listing-time skipping layers (zone-map rectangles, bloom sidecars).
  *
  * The predicate is first distilled to a [[PredicateRanges.Node]] tree
  * (AND / OR / comparison atoms / opaque leaves), then RESOLVED against
  * each data directory's sidecar metadata:
  *
  *  - [[rangeSets]] produces per-column interval sets in the zone map's
  *    encoded double space, given each column's recorded FAMILY
  *    ([[ZoneCodec]]). Conjunctions intersect per column; disjunctions
  *    take the UNION of the interval sets over columns constrained in
  *    EVERY branch (a branch that leaves a column unconstrained makes
  *    the column unconstrained in the union). A conjunction whose intervals cross (`x > 5 AND x <
  *    3`) is UNSATISFIABLE — `None` — and an unsatisfiable OR branch
  *    simply drops out.
  *  - [[probes]] produces per-column equality probe-value sets for the
  *    bloom layer: conjunctions intersect (only when Scala equality is
  *    trustworthy for every literal — one shared [[intersectSafe]]
  *    class; otherwise the smallest single list, never a false
  *    contradiction), disjunctions UNION over columns probed in every
  *    branch.
  *
  * Anything unrecognized (casts, functions, LIKE, subqueries, null
  * checks) is an opaque leaf contributing nothing for its columns — fail
  * open, never wrong. Literals keep their Catalyst type until
  * resolution, so `o_orderdate >= '1995-01-01'` encodes as epoch days
  * against a DATE-family column through Spark's own Cast semantics, and
  * a numeric literal against a STRING-family column refuses to encode
  * (string collation says nothing about numeric order).
  */
object PredicateRanges {

  /** Predicate distilled to skipping-relevant structure. Atoms keep the
    * raw Catalyst literal; encoding happens at resolution time, per
    * sidecar column family. */
  sealed trait Node
  final case class AndN(cs: Seq[Node]) extends Node
  final case class OrN(cs: Seq[Node]) extends Node
  /** `col op literal`, op ∈ `>= > <= < =` (literal-op-col arrives
    * mirrored). */
  final case class Cmp(col: String, op: String, lit: Literal) extends Node
  final case class InN(col: String, lits: Seq[Literal]) extends Node
  case object Opaque extends Node

  // ---------------------------------------------------------------- tree

  /** Bare column references only — a Cast may change comparison
    * semantics (string→double, timestamp truncation), so fail open. */
  private def attr(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: UnresolvedAttribute if u.nameParts.size == 1 =>
      Some(u.nameParts.head)
    case _ => None
  }

  private def literal(e: Expression): Option[Literal] = e match {
    case l @ Literal(v, _) if v != null => Some(l)
    case _ => None
  }

  /** Analysis-stage function nodes by (lower-cased) name. */
  private object Fn {
    def unapply(e: Expression): Option[(String, Seq[Expression])] =
      e match {
        case f: UnresolvedFunction if f.nameParts.size == 1 =>
          Some((f.nameParts.head.toLowerCase(Locale.ROOT), f.arguments))
        case _ => None
      }
  }

  private def mirrored(op: String): String = op match {
    case ">=" => "<="
    case ">" => "<"
    case "<=" => ">="
    case "<" => ">"
    case other => other
  }

  private def cmp(op: String, l: Expression, r: Expression): Node = {
    val canon = if (op == "==") "=" else op
    (attr(l), literal(r)) match {
      case (Some(c), Some(x)) => Cmp(c, canon, x)
      case _ => (attr(r), literal(l)) match {
        case (Some(c), Some(x)) => Cmp(c, mirrored(canon), x)
        case _ => Opaque
      }
    }
  }

  private def inNode(a: Expression, vs: Seq[Expression]): Node =
    attr(a) match {
      case Some(c) =>
        val ls = vs.flatMap(literal)
        if (ls.size == vs.size && ls.nonEmpty) InN(c, ls) else Opaque
      case None => Opaque
    }

  private val cmpOps = Set(">=", ">", "<=", "<", "=", "==")

  private def toNode(e: Expression): Node = e match {
    case And(l, r) => AndN(Seq(toNode(l), toNode(r)))
    case Or(l, r) => OrN(Seq(toNode(l), toNode(r)))
    case Fn("and", args) if args.size == 2 =>
      AndN(args.map(toNode))
    case Fn("or", args) if args.size == 2 =>
      OrN(args.map(toNode))
    case GreaterThanOrEqual(l, r) => cmp(">=", l, r)
    case GreaterThan(l, r) => cmp(">", l, r)
    case LessThanOrEqual(l, r) => cmp("<=", l, r)
    case LessThan(l, r) => cmp("<", l, r)
    case EqualTo(l, r) => cmp("=", l, r)
    case In(a, vs) => inNode(a, vs)
    case Fn("in", args) if args.size >= 2 => inNode(args.head, args.tail)
    case Fn(op, args) if args.size == 2 && cmpOps(op) =>
      cmp(op, args.head, args(1))
    case _ => Opaque
  }

  /** Distill `cond` into a [[Node]] tree (both analysis-stage Column
    * trees and resolved Catalyst predicates are recognized). */
  def tree(cond: Column): Node =
    toNode(org.apache.spark.sql.GraftBridge.catalystExpression(cond))

  /** Whether the tree holds ANY range-resolvable atom — callers skip
    * loading zone-map sidecars entirely when it does not (an all-opaque
    * predicate must not pay a sidecar read per directory for nothing). */
  def hasAtoms(n: Node): Boolean = n match {
    case AndN(cs) => cs.exists(hasAtoms)
    case OrN(cs) => cs.exists(hasAtoms)
    case _: Cmp | _: InN => true
    case Opaque => false
  }

  // ------------------------------------------------------------- ranges

  private val Inf = Double.PositiveInfinity

  /** Encode one literal into family `fam`'s double space — `None` when
    * the literal's order under SQL's comparison coercion cannot be
    * proven to carry into that space (fail open). String literals cast
    * through Spark's own `Cast` in TRY mode (the session time zone for
    * timestamps), because that IS the coercion SQL applies before
    * comparing. */
  private def encode(l: Literal, fam: String): Option[Double] = {
    def tryCast(dt: DataType): Option[Any] = {
      val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
      scala.util.Try(
        Cast(l, dt, Some(tz), EvalMode.TRY).eval(InternalRow.empty))
        .toOption.filter(_ != null)
    }
    fam match {
      case ZoneCodec.Numeric => l.value match {
        case n: java.lang.Number => Some(n.doubleValue())
        case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
        case b: java.lang.Boolean => Some(if (b) 1.0 else 0.0)
        case _: org.apache.spark.unsafe.types.UTF8String =>
          // SQL coerces both sides of a string-vs-numeric comparison to
          // DOUBLE, so the numeric column's encoded space is the right
          // one for the parsed literal
          tryCast(DoubleType).map(_.asInstanceOf[Double])
        case _ => None
      }
      case ZoneCodec.DateF => l.dataType match {
        case DateType => Some(l.value.asInstanceOf[Int].toDouble)
        case StringType =>
          // date_col >= '1995-01-01': SQL casts the literal to DATE
          tryCast(DateType).map(_.asInstanceOf[Int].toDouble)
        // a TIMESTAMP literal promotes the DATE COLUMN to timestamp
        // instead — epoch-day space cannot express that; fail open
        case _ => None
      }
      case ZoneCodec.TimestampF => l.dataType match {
        case TimestampType => Some(l.value.asInstanceOf[Long].toDouble)
        case DateType | StringType =>
          // ts_col >= DATE/'...': SQL casts the literal to TIMESTAMP
          // through the session time zone — exactly what TRY Cast does
          tryCast(TimestampType).map(_.asInstanceOf[Long].toDouble)
        case _ => None
      }
      case ZoneCodec.StringF => l.dataType match {
        case StringType => Some(ZoneCodec.encodeStringPrefix(
          l.value.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
            .getBytes))
        // numeric-vs-string comparison coerces the COLUMN to double;
        // string byte order says nothing about numeric order — fail open
        case _ => None
      }
      case _ => None
    }
  }

  /** `op` against encoded literal `x` as a closed interval. Open bounds
    * (`>` `<`) reuse the closed one: wider, still sound (and required
    * for the truncated string encoding, where enc is only non-strictly
    * monotone). Bounds widen two ulps — the encode itself may round. */
  private def ivl(op: String, x: Double): Option[(Double, Double)] =
    op match {
      case ">=" | ">" => Some((ZoneCodec.widenLo(x), Inf))
      case "<=" | "<" => Some((-Inf, ZoneCodec.widenHi(x)))
      case "=" => Some((ZoneCodec.widenLo(x), ZoneCodec.widenHi(x)))
      case _ => None
    }

  /** Per-column interval SETS: a column's support is over-approximated
    * by the UNION of its intervals — what lets a disjunction of disjoint
    * bands (`id <= 50 OR id >= 750`) prune the middle instead of
    * collapsing to the useless single hull. Lists stay small (bounded by
    * predicate size) and are capped at [[MaxIvls]] — past it they
    * collapse to their hull, wider but still sound. */
  private type Ivls = Map[String, Seq[(Double, Double)]]
  private val MaxIvls = 16

  private def hull(ivs: Seq[(Double, Double)]): (Double, Double) =
    (ivs.map(_._1).min, ivs.map(_._2).max)

  private def capped(ivs: Seq[(Double, Double)]): Seq[(Double, Double)] =
    if (ivs.size <= MaxIvls) ivs else Seq(hull(ivs))

  /** Per-column interval sets over-approximating `n`'s support under the
    * given column→family resolution; `None` = provably unsatisfiable.
    * Columns absent from the map are unconstrained. */
  private def rangeMap(n: Node, family: String => Option[String])
      : Option[Ivls] = n match {
    case Cmp(c, op, l) =>
      Some(family(c).flatMap(encode(l, _)).flatMap(ivl(op, _))
        .map(iv => Map(c -> Seq(iv))).getOrElse(Map.empty))
    case InN(c, ls) =>
      Some(family(c).flatMap { f =>
        val xs = ls.map(encode(_, f))
        if (xs.exists(_.isEmpty)) None // one unencodable member: fail open
        else Some(Map(c -> capped(xs.flatten.map(v =>
          (ZoneCodec.widenLo(v), ZoneCodec.widenHi(v)))))) // per-point
      }.getOrElse(Map.empty))
    case AndN(cs) =>
      val maps = cs.map(rangeMap(_, family))
      if (maps.exists(_.isEmpty)) None // an unsat conjunct: unsat whole
      else {
        val merged = maps.flatMap(_.get.toSeq)
          .groupBy(_._1).map { case (c, ivs) =>
            // conjunction = set intersection: pairwise-intersect the
            // lists, dropping empty pieces
            (c, ivs.map(_._2).reduce { (la, lb) =>
              capped(for {
                (a1, a2) <- la; (b1, b2) <- lb
                lo = math.max(a1, b1); hi = math.min(a2, b2)
                if lo <= hi
              } yield (lo, hi))
            })
          }
        if (merged.values.exists(_.isEmpty)) None // crossed: unsat
        else Some(merged)
      }
    case OrN(cs) =>
      val sat = cs.map(rangeMap(_, family)).flatten // unsat branches drop
      if (sat.isEmpty) None
      else {
        val shared = sat.map(_.keySet).reduce(_ intersect _)
        Some(shared.map { c =>
          (c, capped(sat.flatMap(_(c)))) // union of the branches' sets
        }.toMap)
      }
    case Opaque => Some(Map.empty)
  }

  /** Resolve the tree to sorted per-column interval SETS (a file must
    * overlap at least ONE interval of every listed column to survive).
    * `None` family = column unindexed → it contributes nothing. Returns
    * `None` when the predicate is provably UNSATISFIABLE under this
    * resolution — every file prunes. */
  def rangeSets(n: Node, family: String => Option[String])
      : Option[Seq[(String, Seq[(Double, Double)])]] =
    rangeMap(n, family).map(_.toSeq.sortBy(_._1))

  /** Build a conjunction Node from raw numeric per-column envelopes —
    * the bridge for callers whose bounds come from DATA (e.g. a MERGE
    * source's key min/max), not from a predicate. Resolution then
    * applies them only against `numeric`-family sidecar columns; a
    * typed (date/string) column never sees a raw double. */
  def numericEnvelope(ranges: Seq[(String, Double, Double)]): Node =
    AndN(ranges.flatMap { case (c, lo, hi) =>
      Seq(Cmp(c, ">=", Literal(lo, DoubleType)),
        Cmp(c, "<=", Literal(hi, DoubleType)))
    })

  // ------------------------------------------------------------- probes

  /** Scala `Set` equality coincides with SQL equality only for these
    * literal classes: same-class boxed primitives and strings. BigDecimal
    * (`1.0 != 1.00` under equals, SQL-equal), byte arrays (reference
    * equality), and MIXED classes (Int 1 vs String "1", which SQL
    * coerces equal) would make a set intersection claim a contradiction
    * SQL would not — and an over-eager "contradiction" becomes silently
    * dropped rows downstream. */
  private val intersectSafe: Set[Class[_]] = Set(
    classOf[String], classOf[java.lang.Long], classOf[java.lang.Integer],
    classOf[java.lang.Short], classOf[java.lang.Byte],
    classOf[java.lang.Double], classOf[java.lang.Float],
    classOf[java.lang.Boolean])

  private def external(l: Literal): Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters
      .convertToScala(l.value, l.dataType)

  /** Merge probe lists for one column across AND'ed conjuncts: each list
    * individually over-approximates the matching rows' values, so when
    * Scala equality is trustworthy for every involved literal the sets
    * INTERSECT — an empty intersection is a contradiction (`None`
    * upstream) — and otherwise the SMALLEST single list is used (sharp
    * enough, never a false contradiction). */
  private def mergeAnd(lists: Seq[Seq[Any]]): Option[Seq[Any]] = {
    if (lists.size == 1) return Some(lists.head)
    val classes = lists.flatten.map(_.getClass).distinct
    if (classes.size == 1 && intersectSafe(classes.head)) {
      val merged = lists.map(_.toSet).reduce(_ intersect _)
      if (merged.isEmpty) None else Some(merged.toSeq)
    } else Some(lists.minBy(_.size))
  }

  private type Probes = Map[String, Seq[Any]]

  private def probeMap(n: Node): Option[Probes] = n match {
    case Cmp(c, "=", l) => Some(Map(c -> Seq(external(l))))
    case _: Cmp => Some(Map.empty)
    case InN(c, ls) => Some(Map(c -> ls.map(external)))
    case AndN(cs) =>
      val maps = cs.map(probeMap)
      if (maps.exists(_.isEmpty)) None
      else {
        val grouped = maps.flatMap(_.get.toSeq).groupBy(_._1)
        val merged = grouped.map { case (c, ps) =>
          mergeAnd(ps.map(_._2)).map(c -> _)
        }
        if (merged.exists(_.isEmpty)) None // contradictory conjuncts
        else Some(merged.flatten.toMap)
      }
    case OrN(cs) =>
      val sat = cs.map(probeMap).flatten // unsat branches drop out
      if (sat.isEmpty) None
      else {
        // a column probed in EVERY branch is probed by the union; one
        // unconstrained branch makes the column unconstrained
        val shared = sat.map(_.keySet).reduce(_ intersect _)
        Some(shared.map(c => (c, sat.flatMap(_(c)).distinct)).toMap)
      }
    case Opaque => Some(Map.empty)
  }

  /** Per-column EQUALITY probe-value sets (external Scala values — the
    * bloom layer canonicalizes each through the sidecar-recorded column
    * type at probe time). `None` = the predicate is provably
    * unsatisfiable (contradictory equality conjuncts) — callers
    * short-circuit to an empty result. */
  def probes(n: Node): Option[Seq[(String, Seq[Any])]] =
    probeMap(n).map(_.toSeq.sortBy(_._1))
}
