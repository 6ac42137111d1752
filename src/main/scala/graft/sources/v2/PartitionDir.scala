package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** How a staged table's partition DIRECTORIES encode values, and what a
  * predicate provably does over the rows under one of them.
  *
  * Each level of the tree is a `<dirName>=<segment>` directory
  * ([[PartSpec.partEvaluators]] writes them): an identity column stores its
  * value (strings escaped), `days(ts)` the UTC day as `yyyy-MM-dd`,
  * `bucket(n, k)` the bucket id under [[BucketHash]]. A null value — for a
  * transform, a null SOURCE value — lands in the [[Null]] segment, and only
  * there.
  *
  * [[verdict]] is the one partition-predicate evaluator of the engine:
  * static partition pruning, runtime DPP and the DELETE/UPDATE directory
  * tiers all ask it, so a read can never skip a directory a delete would
  * find rows in, nor a delete skip one a read would.
  */
object PartitionDir {
  /** The segment of a null value. */
  val Null = "__HIVE_DEFAULT_PARTITION__"

  /** The types a directory name can carry — the ones [[partValue]] parses. */
  def dirValueType(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | DateType => true
    case _                                              => false
  }

  /** Typed (internal-representation) value of an identity segment —
    * inverse of [[PartSpec.partEvaluators]].
    */
  def partValue(dt: DataType, raw: String): Any =
    if (raw == Null) null
    else dt match {
      case StringType  => UTF8String.fromString(PartSpec.unescape(raw))
      case IntegerType => raw.toInt
      case LongType    => raw.toLong
      case DateType    => java.time.LocalDate.parse(raw).toEpochDay.toInt
      case other => throw new UnsupportedOperationException(
        s"staged scan: unsupported identity partition type $other")
    }

  /** The identity fields of `spec` as nullable columns of `schema`, and a
    * function from a directory's segments to their external (Row) values
    * in that order — how a job carries a directory's identity values.
    */
  def identityColumns(spec: Seq[PartField], schema: StructType)
      : (Seq[StructField], Seq[String] => Seq[Any]) = {
    val idx = spec.zipWithIndex.filter(_._1.kind == "identity")
    (idx.map { case (pf, _) => schema(pf.name).copy(nullable = true) },
     vals => idx.map { case (pf, i) =>
       val dt = schema(pf.name).dataType
       CatalystTypeConverters.convertToScala(partValue(dt, vals(i)), dt) })
  }

  /** Epoch day of a `days` segment; None = the null directory. */
  def day(raw: String): Option[Long] =
    if (raw == Null) None else Some(java.time.LocalDate.parse(raw).toEpochDay)

  /** Bucket id of a `bucket` segment; None = the null directory. */
  def bucket(raw: String): Option[Int] =
    if (raw == Null) None else Some(raw.toInt)

  /** Every partition directory `depth` levels under `root`: its path
    * relative to `root` (`k=v/...`), the directory, and its raw segment
    * values in spec order. `k=v__old` is swap debris (a dynamic overwrite
    * or compaction whose best-effort old-delete failed), never a
    * partition — reading it would duplicate the partition's rows.
    */
  def walk(root: Path, depth: Int): Seq[(String, Path, Seq[String])] = {
    val f = StagedParquet.fs(root)
    def go(dir: Path, depth: Int, rel: String,
           vals: List[String]): Seq[(String, Path, Seq[String])] =
      if (depth == 0) Seq((rel, dir, vals.reverse))
      else f.listStatus(dir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("=") &&
          !st.getPath.getName.endsWith("__old"))
        .flatMap { st =>
          val n = st.getPath.getName
          go(st.getPath, depth - 1, if (rel.isEmpty) n else s"$rel/$n",
            n.split("=", 2)(1) :: vals)
        }
    go(root, depth, "", Nil)
  }

  /** What `f` does over every row of the directory whose segments are
    * `vals` under `spec` (the directory's OWN spec — layout generations
    * differ after evolution): Some(true) = every row satisfies it,
    * Some(false) = no row does (each is false or NULL), None = not
    * decidable from the directory name. A comparison the evaluator cannot
    * canonicalize with certainty is None, so callers stay conservative:
    * reads keep the directory, deletes read its rows.
    */
  def verdict(f: Filter, vals: Seq[String], spec: Seq[PartField],
              schema: StructType): Option[Boolean] = {
    // the verdict of the first spec field on column `a` that decides
    def on(a: String)(leaf: (PartField, String) => Option[Boolean]): Option[Boolean] =
      spec.indices.iterator.filter(i => names(spec(i), a))
        .map(i => leaf(spec(i), vals(i))).collectFirst { case Some(b) => b }
    // a comparison is never true on a null value or against a null literal
    def cmp(a: String, v: Any)(decide: (PartField, String) => Option[Boolean]) =
      on(a)((pf, raw) => if (raw == Null || v == null) Some(false) else decide(pf, raw))
    // `a = v` on a non-null segment, decoded once for every v: an identity
    // value decides; a day or bucket decides only a MISMATCH (other
    // values share the same one)
    def eq(pf: PartField, raw: String): Any => Option[Boolean] = pf.kind match {
      case "identity" =>
        val t = identity(pf, raw, schema)
        v => Some(t == canon(v))
      case "days" =>
        val dd = day(raw)
        v => dayOf(v).collect { case dv if !dd.contains(dv) => false }
      case _ =>
        val id = bucket(raw)
        v => BucketHash.idFor(schema(pf.name).dataType, v, pf.buckets)
          .collect { case x if !id.contains(x) => false }
    }
    // `a <op> v` on a non-null segment, `op` over the comparison's sign: a
    // day decides every value of the day unless v falls inside it
    def ord(pf: PartField, raw: String, v: Any, op: Int => Boolean): Option[Boolean] =
      pf.kind match {
        case "identity" => canonCmp(identity(pf, raw, schema), canon(v)).map(op)
        case "days"     => dayOf(v).map(day(raw).get.compare(_))
          .collect { case c if c != 0 => op(c) }
        case _          => None
      }
    def rec(g: Filter) = verdict(g, vals, spec, schema)
    f match {
      case AlwaysTrue()             => Some(true)
      case AlwaysFalse()            => Some(false)
      case IsNull(a)                => on(a)((_, raw) => Some(raw == Null))
      case IsNotNull(a)             => on(a)((_, raw) => Some(raw != Null))
      case EqualTo(a, v)            => cmp(a, v)(eq(_, _)(v))
      // an IN list is the disjunction of its equalities
      case In(a, vs)                => on(a) { (pf, raw) =>
        if (raw == Null) Some(false)
        else {
          val test = eq(pf, raw)
          any(vs.toSeq.map(v => if (v == null) Some(false) else test(v)))
        }
      }
      case GreaterThan(a, v)        => cmp(a, v)(ord(_, _, v, _ > 0))
      case GreaterThanOrEqual(a, v) => cmp(a, v)(ord(_, _, v, _ >= 0))
      case LessThan(a, v)           => cmp(a, v)(ord(_, _, v, _ < 0))
      case LessThanOrEqual(a, v)    => cmp(a, v)(ord(_, _, v, _ <= 0))
      case And(l, r) => (rec(l), rec(r)) match {
        case (Some(true), Some(true))            => Some(true)
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case _                                   => None
      }
      case Or(l, r)  => any(Seq(rec(l), rec(r)))
      // Some(false) means "no row SATISFIES" (false or NULL everywhere), so
      // negation folds carefully: Not(g) is unsatisfiable where g holds
      // for every row, but an unsatisfiable g proves NOTHING for Not(g) —
      // g may be NULL, and NOT(NULL) is NULL
      case Not(g)    => if (rec(g).contains(true)) Some(false) else None
      case _         => None
    }
  }

  /** May some row of the directory satisfy every filter? False only when
    * a filter's verdict is Some(false) — the pruning rule of reads.
    */
  def mayMatch(filters: Seq[Filter], vals: Seq[String], spec: Seq[PartField],
               schema: StructType): Boolean =
    !filters.exists(verdict(_, vals, spec, schema).contains(false))

  /** Can [[verdict]] decide `f` for some directory of `spec`? — the
    * filters a scan pushes as partition pruning.
    */
  def decides(f: Filter, spec: Seq[PartField]): Boolean = f match {
    case And(l, r) => decides(l, spec) || decides(r, spec)
    case Or(l, r)  => decides(l, spec) && decides(r, spec)
    case Not(g)    => decides(g, spec)
    case EqualTo(_, _) | In(_, _) | GreaterThan(_, _) | GreaterThanOrEqual(_, _) |
         LessThan(_, _) | LessThanOrEqual(_, _) | IsNull(_) | IsNotNull(_) =>
      f.references.forall(a => spec.exists(names(_, a)))
    case _         => false
  }

  // does filter attribute `a` name `pf`'s column? Spark names a column
  // that needs quoting (`order-date`) in backquotes when it converts a
  // predicate to its V1 form, both for pushed and for runtime filters
  private def names(pf: PartField, a: String): Boolean =
    pf.name == a || QuotingUtils.quoteIfNeeded(pf.name) == a

  // Or-fold: true if any side holds for every row, unsatisfiable if all are
  private def any(vs: Seq[Option[Boolean]]): Option[Boolean] =
    if (vs.contains(Some(true))) Some(true)
    else if (vs.forall(_.contains(false))) Some(false)
    else None

  private def identity(pf: PartField, raw: String, schema: StructType): Any =
    canon(partValue(schema(pf.name).dataType, raw))

  // an identity value or pushed literal in one comparable form: strings as
  // UTF8String (Spark's order for strings is their UTF-8 bytes, i.e.
  // code points; java.lang.String orders UTF-16 units, which disagree
  // past the BMP), dates as epoch-day Int, numbers as themselves
  private def canon(v: Any): Any = v match {
    case s: String              => UTF8String.fromString(s)
    case d: java.sql.Date       => d.toLocalDate.toEpochDay.toInt
    case d: java.time.LocalDate => d.toEpochDay.toInt
    case other                  => other
  }

  private def canonCmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Int, y: Int)               => Some(x.compareTo(y))
    case (x: Long, y: Long)             => Some(x.compareTo(y))
    case (x: UTF8String, y: UTF8String) => Some(x.binaryCompare(y))
    case _                              => None
  }

  // UTC day of a pushed timestamp/date literal; None = unrecognized
  private def dayOf(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp  => Some(Math.floorDiv(t.getTime, 86400000L))
    case i: java.time.Instant   => Some(Math.floorDiv(i.getEpochSecond, 86400L))
    case d: java.sql.Date       => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _                      => None
  }
}
