package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Iceberg-style partition transforms (hidden partitioning): a table
  * declares `days(ts)` / `months(ts)` / `bucket(n, c)` /
  * `truncate(w, c)` / identity specs; the lake layer derives the
  * partition value at write time into a `_p`-prefixed column the user
  * schema never shows, and projects row-level predicates onto
  * partition-level predicates at scan time — so queries filter the
  * DATA columns and still get directory pruning, exactly the contract
  * Iceberg's partition specs provide (and what the reference's
  * unpartitioned `saveAsTable` tables lack, SURVEY.md §4).
  *
  * Predicate projection rules (all monotone or exact):
  *  - identity: predicate passes through;
  *  - days/months: range + equality project through the (monotone)
  *    date truncation;
  *  - truncate(w): monotone for ints and strings → range + equality;
  *  - bucket(n): equality only (ranges don't survive hashing).
  * Projected comparisons use foldable literal expressions, so Catalyst
  * constant-folds them and the FileScan shows `PartitionFilters`.
  */
sealed trait LakePredicate { def col: String }
object LakePredicate {
  final case class EqualTo(col: String, value: Any) extends LakePredicate
  final case class GtEq(col: String, value: Any) extends LakePredicate
  final case class LtEq(col: String, value: Any) extends LakePredicate
  /** Multi-point membership (`col IN (…)`): prunes like a disjunction
    * of equality probes — dirs via per-value partition projections,
    * files via any-value-in-range stats checks.
    */
  final case class In(col: String, values: Seq[Any]) extends LakePredicate
}

sealed trait PartitionField {
  def source: String
  /** Partition column name; identity fields use the source name,
    * transforms get a `_p_` prefix (hidden from reads).
    */
  def name: String
  def hidden: Boolean = name != source
  /** Type of the derived partition value (used to null-fill the
    * column for commit dirs that wrote zero rows and therefore have
    * no partition subdirectories at all).
    */
  def partitionType(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.DataType
  /** Partition value derived from the source column (write path; the
    * frame is provided so type-dependent transforms can consult the
    * schema).
    */
  def derive(df: org.apache.spark.sql.DataFrame): Column
  /** Projection of a row predicate onto this partition column, when
    * the transform admits one. `sourceType` is the table-schema type
    * of the source column: literals are cast through it first, so a
    * probe value of a different runtime type (Int vs Long, string
    * date vs timestamp) still derives the same partition value the
    * write path did — critical for hash buckets, where xxhash64 is
    * type-sensitive.
    */
  def project(p: LakePredicate,
              sourceType: org.apache.spark.sql.types.DataType): Option[Column]
  /** Spec string round-tripped through the manifest. */
  def spec: String
}

object PartitionField {
  import LakePredicate._

  final case class Identity(source: String) extends PartitionField {
    val name = source
    def derive(df: org.apache.spark.sql.DataFrame): Column = col(source)
    def project(p: LakePredicate,
                sourceType: org.apache.spark.sql.types.DataType): Option[Column] =
      None // raw filter already covers it (all predicate shapes)
    def partitionType(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.DataType =
      schema(source).dataType
    def spec: String = source
  }

  final case class Days(source: String) extends PartitionField {
    val name = s"_p_${source}_day"
    def derive(df: org.apache.spark.sql.DataFrame): Column =
      PartitionField.utcDay(col(source), df.schema(source).dataType)
    def project(p: LakePredicate,
                sourceType: org.apache.spark.sql.types.DataType): Option[Column] = {
      def l(v: Any) = PartitionField.utcDay(lit(v).cast(sourceType), sourceType)
      p match {
        case EqualTo(_, v) => Some(col(name) === l(v))
        case In(_, vs) if vs.nonEmpty =>
          Some(col(name).isin(vs.map(l): _*)) // flat node, not an OR tree
        case GtEq(_, v)    => Some(col(name) >= l(v))
        case LtEq(_, v)    => Some(col(name) <= l(v))
        case _             => None
      }
    }
    def partitionType(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.DateType
    def spec: String = s"days($source)"
  }

  final case class Months(source: String) extends PartitionField {
    val name = s"_p_${source}_month"
    def derive(df: org.apache.spark.sql.DataFrame): Column =
      trunc(PartitionField.utcDay(col(source), df.schema(source).dataType), "month")
    def project(p: LakePredicate,
                sourceType: org.apache.spark.sql.types.DataType): Option[Column] = {
      def l(v: Any) = trunc(PartitionField.utcDay(lit(v).cast(sourceType), sourceType), "month")
      p match {
        case EqualTo(_, v) => Some(col(name) === l(v))
        case In(_, vs) if vs.nonEmpty =>
          Some(col(name).isin(vs.map(l): _*)) // flat node, not an OR tree
        case GtEq(_, v)    => Some(col(name) >= l(v))
        case LtEq(_, v)    => Some(col(name) <= l(v))
        case _             => None
      }
    }
    def partitionType(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.DateType
    def spec: String = s"months($source)"
  }

  final case class Bucket(n: Int, source: String) extends PartitionField {
    require(n > 0, s"bucket count must be positive: $n")
    val name = s"_p_${source}_bucket"
    def derive(df: org.apache.spark.sql.DataFrame): Column =
      pmod(xxhash64(col(source)), lit(n)).cast("int")
    def project(p: LakePredicate,
                sourceType: org.apache.spark.sql.types.DataType): Option[Column] = {
      def b(v: Any) = pmod(xxhash64(lit(v).cast(sourceType)), lit(n)).cast("int")
      p match {
        case EqualTo(_, v) => Some(col(name) === b(v))
        case In(_, vs) if vs.nonEmpty =>
          Some(col(name).isin(vs.map(b): _*)) // flat node, not an OR tree
        case _ => None // hashing destroys order
      }
    }
    def partitionType(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.IntegerType
    def spec: String = s"bucket($n, $source)"
  }

  final case class Truncate(width: Int, source: String) extends PartitionField {
    require(width > 0, s"truncate width must be positive: $width")
    val name = s"_p_${source}_trunc"
    // ints floor to a width multiple; strings take the width prefix —
    // both monotone, so ranges project through
    private def truncOf(c: Column, isString: Boolean): Column =
      if (isString) substring(c, 1, width) else c - pmod(c, lit(width))
    def derive(df: org.apache.spark.sql.DataFrame): Column =
      truncOf(col(source),
        df.schema(source).dataType == org.apache.spark.sql.types.StringType)
    def project(p: LakePredicate,
                sourceType: org.apache.spark.sql.types.DataType): Option[Column] = {
      val isStr = sourceType == org.apache.spark.sql.types.StringType
      def t(v: Any): Column = truncOf(lit(v).cast(sourceType), isStr)
      p match {
        case EqualTo(_, v) => Some(col(name) === t(v))
        case In(_, vs) if vs.nonEmpty =>
          Some(col(name).isin(vs.map(t): _*)) // flat node, not an OR tree
        case GtEq(_, v)    => Some(col(name) >= t(v))
        case LtEq(_, v)    => Some(col(name) <= t(v))
      }
    }
    def partitionType(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.DataType =
      schema(source).dataType
    def spec: String = s"truncate($width, $source)"
  }

  /** UTC day of a timestamp, independent of the session timezone
    * (Iceberg defines day/month transforms on UTC micros for exactly
    * this reason: a reader session in another zone must project
    * predicates onto the same partition values the writer derived).
    * Integral floor-division via pmod — `floor(x / 86400e6)` would
    * round epoch micros through doubles. A DATE (`dataType` of the
    * source column) already is its day and passes through.
    */
  private val DayMicros = 86400000000L
  private[lake] def utcDay(c: Column, dataType: org.apache.spark.sql.types.DataType): Column =
    if (dataType == org.apache.spark.sql.types.DateType) c
    else {
      // IntegralDivide, not Catalyst `/` (double division): |epoch µs|
      // beyond 2^53 (≈ years <1685 / >2255) would round through the
      // double and shift the derived day — same bridge construction as
      // Tables.tsFromNanos
      import org.apache.spark.sql.GraftColumnBridge
      import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal}
      val us = unix_micros(c)
      val floored = us - pmod(us, lit(DayMicros))
      date_from_unix_date(GraftColumnBridge.column(
        IntegralDivide(GraftColumnBridge.expression(floored), Literal(DayMicros))).cast("int"))
    }

  private val DaysRe = """days\(\s*([A-Za-z0-9_]+)\s*\)""".r
  private val MonthsRe = """months\(\s*([A-Za-z0-9_]+)\s*\)""".r
  private val BucketRe = """bucket\(\s*(\d+)\s*,\s*([A-Za-z0-9_]+)\s*\)""".r
  private val TruncRe = """truncate\(\s*(\d+)\s*,\s*([A-Za-z0-9_]+)\s*\)""".r

  /** Anything that isn't a transform call is an identity column name —
    * unrestricted charset, so tables written before transforms existed
    * (or with unusual column names) keep reading.
    */
  def parse(spec: String): PartitionField = spec.trim match {
    case DaysRe(c)      => Days(c)
    case MonthsRe(c)    => Months(c)
    case BucketRe(n, c) => Bucket(n.toInt, c)
    case TruncRe(w, c)  => Truncate(w.toInt, c)
    case other if !other.contains("(") && other.nonEmpty => Identity(other)
    case other => throw new IllegalArgumentException(s"bad partition spec: '$other'")
  }
}
