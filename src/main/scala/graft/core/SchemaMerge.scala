package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Schema widening lattice + modal merge, mirroring the reference's
  * type system (see SURVEY.md §1.3; reference
  * `delta-writer/src/transformers/bson_to_delta.py:196-263` and
  * `transformers/type_resolver.py:15-147,312-420`,
  * `transformers/schema_inferrer.py:127-330`):
  *
  *   - numeric hierarchy byte < short < int < long < float < double,
  *     wider wins;
  *   - null + T → T;
  *   - array<A> + array<B> → array<merge(A,B)>;
  *   - struct + struct → field union, overlapping fields merged
  *     recursively, everything nullable ("MongoDB is schemaless");
  *   - decimal + decimal → widened precision/scale;
  *   - timestamp precision unified (Spark has a single µs timestamp);
  *   - incompatible pair → StringType fallback (AUTO/PERMISSIVE) or
  *     SchemaConflictException (STRICT).
  *
  * This is deliberately plain Scala over `StructType` — no Catalyst
  * extension is needed (SURVEY.md §4): the merged schema drives a
  * `castTo` projection on the incoming batch before the sink append,
  * which is how the engine implements int32→int64→double evolution
  * that parquet/Delta `mergeSchema` alone rejects.
  */
object SchemaMerge {

  sealed trait MergeMode
  /** Widen on conflict; fall back to string when incompatible. */
  case object Auto extends MergeMode
  /** New fields OK; any type change raises. */
  case object Strict extends MergeMode
  /** Widen when possible, always fall back to string, never raise. */
  case object Permissive extends MergeMode
  /** Like Auto, but when the EXISTING side is typed (date/timestamp/
    * numeric/boolean) and the incoming side is string, KEEP the typed
    * column and attempt per-VALUE conversion of the incoming strings —
    * rows that fail convert go to the DLQ instead of degrading the
    * whole column to string (the reference's third conflict policy,
    * spec.md:297-300). Value-level split is [[coerceSplit]]. */
  case object Coercion extends MergeMode

  final case class SchemaConflictException(field: String, a: DataType,
      b: DataType) extends RuntimeException(
    s"schema conflict at '$field': ${a.sql} vs ${b.sql}")

  private val numericOrder: Map[DataType, Int] = Map(
    ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3,
    FloatType -> 4, DoubleType -> 5)

  /** Merge two types; `path` is for error reporting. `maxStructFields`
    * caps NESTED struct width (SURVEY §1.2 optional MapType overflow):
    * a merged nested struct exceeding it collapses to
    * `map<string, V>` — V the Auto-merge of all field types — so a
    * corpus with unbounded key sets (per-user attribute bags, sparse
    * feature dicts) keeps a BOUNDED table schema instead of widening
    * by one column per novel key. The top-level row struct never
    * collapses. */
  def mergeTypes(a: DataType, b: DataType, mode: MergeMode = Auto,
      path: String = "",
      maxStructFields: Int = Int.MaxValue): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (NullType, t) => t
    case (t, NullType) => t
    case (x, y) if numericOrder.contains(x) && numericOrder.contains(y) =>
      mode match {
        case Strict => throw SchemaConflictException(path, x, y)
        case _ => if (numericOrder(x) >= numericOrder(y)) x else y
      }
    case (x: DecimalType, y: DecimalType) =>
      mode match {
        case Strict => throw SchemaConflictException(path, x, y)
        case _ =>
          // Integer digits are preserved first: losing scale rounds,
          // losing integer digits overflows to null on castTo. Same
          // priority as Spark's own DecimalPrecision widening.
          val intDigits = math.max(x.precision - x.scale,
            y.precision - y.scale)
          val scale = math.min(math.max(x.scale, y.scale),
            DecimalType.MAX_PRECISION - intDigits) // intDigits ≤ 38
          DecimalType(
            math.min(intDigits + scale, DecimalType.MAX_PRECISION), scale)
      }
    case (ArrayType(ea, na), ArrayType(eb, nb)) =>
      ArrayType(mergeTypes(ea, eb, mode, s"$path[]", maxStructFields),
        na || nb)
    case (MapType(ka, va, na), MapType(kb, vb, nb)) =>
      MapType(mergeTypes(ka, kb, mode, s"$path<key>", maxStructFields),
        mergeTypes(va, vb, mode, s"$path<val>", maxStructFields), na || nb)
    // an already-spilled map absorbs later struct batches: every
    // field folds into the value type, the schema stays one column.
    // Applies in ALL cap modes — the spill is recorded in the
    // existing schema, so merge paths that don't pass a cap (plain
    // appends, MERGE EVOLVE) must still respect it rather than
    // degrading the column to string — but ONLY for string-keyed
    // maps (the spill's own shape: struct field names stringify;
    // castTo cannot key a map<int,_> from field names), and under
    // Strict ONLY when a cap is passed (Strict without the spill
    // feature keeps its "any type change raises" promise)
    case (m: MapType, s: StructType) if m.keyType == StringType &&
        (mode != Strict || maxStructFields < Int.MaxValue) =>
      structIntoMap(s, m, mode, path, maxStructFields)
    case (s: StructType, m: MapType) if m.keyType == StringType &&
        (mode != Strict || maxStructFields < Int.MaxValue) =>
      structIntoMap(s, m, mode, path, maxStructFields)
    case (sa: StructType, sb: StructType) =>
      val m = mergeStructs(sa, sb, mode, path, maxStructFields)
      if (path.nonEmpty && m.size > maxStructFields)
        collapseToMap(m, mode, path, maxStructFields)
      else m
    // Coercion: typed existing column + string incoming → keep the
    // typed column; incoming values convert (or DLQ) per row. The
    // mirrored (string existing, typed incoming) stays string — data
    // already on disk cannot be retyped without a rewrite.
    case (x, StringType) if mode == Coercion && isCoercionTarget(x) => x
    case (x, y) => mode match {
      case Strict => throw SchemaConflictException(path, x, y)
      case _ => StringType // incompatible → string fallback
    }
  }

  /** Spill a too-wide struct to `map<string, V>`; values merge under
    * Auto (never Strict — the spill itself is a lossy-by-design
    * widening, so heterogeneous values fall back to string rather
    * than raise). */
  private def collapseToMap(s: StructType, mode: MergeMode,
      path: String, maxStructFields: Int): MapType = {
    val vmode = if (mode == Strict) Auto else mode
    val vt = s.fields.map(_.dataType).reduceLeft((x, y) =>
      mergeTypes(x, y, vmode, s"$path<val>", maxStructFields))
    MapType(StringType, vt, valueContainsNull = true)
  }

  private def structIntoMap(s: StructType, m: MapType, mode: MergeMode,
      path: String, maxStructFields: Int): MapType = {
    val vmode = if (mode == Strict) Auto else mode
    val vt = s.fields.map(_.dataType).foldLeft(m.valueType)((acc, t) =>
      mergeTypes(acc, t, vmode, s"$path<val>", maxStructFields))
    MapType(m.keyType, vt, valueContainsNull = true)
  }

  /** Apply the spill cap to a type arriving WHOLE (an added field —
    * it never passes through a two-sided merge, so the struct-struct
    * cap in [[mergeTypes]] would not see it). */
  private def capType(t: DataType, mode: MergeMode, path: String,
      maxStructFields: Int): DataType =
    if (maxStructFields == Int.MaxValue) t
    else t match {
      case s: StructType =>
        val capped = StructType(s.fields.map(f => f.copy(dataType =
          capType(f.dataType, mode, s"$path.${f.name}", maxStructFields))))
        if (path.nonEmpty && capped.size > maxStructFields)
          collapseToMap(capped, mode, path, maxStructFields)
        else capped
      case ArrayType(e, n) =>
        ArrayType(capType(e, mode, s"$path[]", maxStructFields), n)
      case MapType(k, v, n) =>
        MapType(k, capType(v, mode, s"$path<val>", maxStructFields), n)
      case other => other
    }

  /** Types worth attempting a string→T value conversion for. */
  private def isCoercionTarget(t: DataType): Boolean = t match {
    case DateType | TimestampType | TimestampNTZType | BooleanType => true
    case _: DecimalType => true
    case n if numericOrder.contains(n) => true
    case _ => false
  }

  /** Value-level split for [[Coercion]] mode: rows of `df` whose
    * string values all convert to `target`'s typed columns (cast
    * applied), and the rows where at least one NON-NULL string fails
    * to convert (kept under the ORIGINAL schema for DLQ routing).
    * Conversion uses `try_cast`, so it never raises under ANSI. */
  def coerceSplit(df: DataFrame, target: StructType)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{expr, lit}
    val source = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val coerced = target.fields.filter { f =>
      source.get(f.name).contains(StringType) && f.dataType != StringType }
    if (coerced.isEmpty) return (castTo(df, target), df.limit(0))
    val bad = coerced.map(f =>
        col(f.name).isNotNull &&
          expr(s"try_cast(`${f.name}` AS ${f.dataType.sql})").isNull)
      .reduce(_ || _)
    val good = df.filter(!bad)
    val cols = target.fields.map { f =>
      if (coerced.exists(_.name == f.name))
        expr(s"try_cast(`${f.name}` AS ${f.dataType.sql})").as(f.name)
      else if (source.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    (good.select(cols.toIndexedSeq: _*), df.filter(bad))
  }

  private def mergeStructs(a: StructType, b: StructType, mode: MergeMode,
      path: String, maxStructFields: Int): StructType = {
    val bByName = b.fields.map(f => f.name -> f).toMap
    val merged = a.fields.map { fa =>
      bByName.get(fa.name) match {
        case Some(fb) =>
          // the EXISTING side's field metadata is authoritative (it
          // carries engine markers like generated-column expressions);
          // a batch-side field never contributes metadata
          StructField(fa.name,
            mergeTypes(fa.dataType, fb.dataType, mode,
              if (path.isEmpty) fa.name else s"$path.${fa.name}",
              maxStructFields),
            nullable = true, metadata = fa.metadata)
        case None => fa.copy(nullable = true)
      }
    }
    val aNames = a.fieldNames.toSet
    val added = b.fields.filterNot(f => aNames(f.name))
      .map(f => f.copy(nullable = true, dataType = capType(f.dataType,
        mode, if (path.isEmpty) f.name else s"$path.${f.name}",
        maxStructFields)))
    StructType(merged ++ added)
  }

  /** Merge two schemas under a mode (Strict still allows NEW fields —
    * only type CHANGES raise, per reference schema_inferrer.py:218-262).
    * `maxStructFields` enables the nested-struct → MapType overflow
    * spill (see [[mergeTypes]]). The cap re-applies to the FINAL
    * result: identical-type short-circuits inside the merge (x == y,
    * including the first append's self-merge) must not smuggle an
    * over-cap struct past the spill. */
  def merge(a: StructType, b: StructType, mode: MergeMode = Auto,
      maxStructFields: Int = Int.MaxValue): StructType =
    capType(mergeStructs(a, b, mode, "", maxStructFields), mode, "",
      maxStructFields).asInstanceOf[StructType]

  /** True when every value of `from` is representable in `to` without
    * loss (reference type_resolver.py:368-420 safe-widening check). */
  def isSafeWidening(from: DataType, to: DataType): Boolean = (from, to) match {
    case (x, y) if x == y => true
    case (NullType, _) => true
    case (x, y) if numericOrder.contains(x) && numericOrder.contains(y) =>
      // int→float and long→float/double lose precision for large values,
      // but the reference's lattice treats order as widening-safe.
      numericOrder(x) <= numericOrder(y)
    case (x: DecimalType, y: DecimalType) =>
      y.scale >= x.scale &&
        (y.precision - y.scale) >= (x.precision - x.scale)
    case (ArrayType(ea, _), ArrayType(eb, _)) => isSafeWidening(ea, eb)
    // the MapType overflow spill: every field value must fit the map's
    // value type (keys stringify losslessly)
    case (sa: StructType, m: MapType) =>
      sa.fields.forall(f => isSafeWidening(f.dataType, m.valueType))
    case (ma: MapType, mb: MapType) =>
      isSafeWidening(ma.valueType, mb.valueType)
    case (sa: StructType, sb: StructType) =>
      sa.fields.forall { fa =>
        sb.fields.find(_.name == fa.name)
          .exists(fb => isSafeWidening(fa.dataType, fb.dataType))
      }
    case (_, StringType) => true // stringify never "loses" bytes
    case _ => false
  }

  final case class SchemaDiff(added: Seq[String], removed: Seq[String],
      changed: Seq[(String, DataType, DataType)]) {
    def isEmpty: Boolean = added.isEmpty && removed.isEmpty && changed.isEmpty
  }

  /** Field-level diff (reference schema_inferrer.py:598-640). */
  def diff(a: StructType, b: StructType): SchemaDiff = {
    val aM = a.fields.map(f => f.name -> f.dataType).toMap
    val bM = b.fields.map(f => f.name -> f.dataType).toMap
    SchemaDiff(
      added = b.fieldNames.filterNot(aM.contains).toSeq,
      removed = a.fieldNames.filterNot(bM.contains).toSeq,
      changed = a.fieldNames.filter(n => bM.get(n).exists(_ != aM(n)))
        .map(n => (n, aM(n), bM(n))).toSeq)
  }

  /** Project `df` onto `target`: cast overlapping columns, null-fill
    * missing ones. Plain `cast` exprs wherever possible (stays inside
    * whole-stage codegen); structurally-incompatible pairs Spark's
    * Cast cannot express — struct→map (the MapType overflow spill)
    * and by-NAME struct widening — build an explicit conversion
    * column instead. */
  def castTo(df: DataFrame, target: StructType): DataFrame = {
    val srcType = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = target.fields.map { f =>
      srcType.get(f.name) match {
        case Some(ft) => convert(col(f.name), ft, f.dataType).as(f.name)
        case None => org.apache.spark.sql.functions.lit(null)
          .cast(f.dataType).as(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** True when `cast` alone cannot (or cannot SAFELY, i.e. by name)
    * produce `to` from `from` and an explicit conversion is needed. */
  private def needsDeepConvert(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (f, t) if f == t => false
      case (_: StructType, _: MapType) => true
      case (sa: StructType, st: StructType) =>
        // Spark casts structs POSITIONALLY; any name-set/order drift
        // (field union appends, spilled inner maps) needs by-name
        sa.fieldNames.toSeq != st.fieldNames.toSeq ||
          sa.fields.zip(st.fields).exists { case (x, y) =>
            needsDeepConvert(x.dataType, y.dataType) }
      case (ArrayType(ea, _), ArrayType(eb, _)) => needsDeepConvert(ea, eb)
      case (MapType(_, va, _), MapType(_, vb, _)) => needsDeepConvert(va, vb)
      case _ => false
    }

  /** Type equality modulo nullability flags at every nesting level.
    * A frame written from non-null in-memory data records e.g.
    * `array<float>` with containsNull=false in the manifest, while
    * the parquet relation reads it back containsNull=true; Spark 4
    * REFUSES a nullable→non-null element cast outright, so castTo
    * must recognize the types as already-equal instead of casting. */
  private def sameIgnoringNull(a: DataType, b: DataType): Boolean =
    (a, b) match {
      case (ArrayType(ea, _), ArrayType(eb, _)) => sameIgnoringNull(ea, eb)
      case (MapType(ka, va, _), MapType(kb, vb, _)) =>
        sameIgnoringNull(ka, kb) && sameIgnoringNull(va, vb)
      case (sa: StructType, sb: StructType) =>
        sa.length == sb.length &&
          sa.fields.zip(sb.fields).forall { case (x, y) =>
            x.name == y.name && sameIgnoringNull(x.dataType, y.dataType) }
      case _ => a == b
    }

  private def convert(c: org.apache.spark.sql.Column, from: DataType,
      to: DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{array, lit, map_filter,
      map_from_arrays, struct, transform, transform_values, when}
    if (sameIgnoringNull(from, to)) c
    else if (!needsDeepConvert(from, to)) c.cast(to)
    else (from, to) match {
      // the spill path: struct fields become map entries; null fields
      // DROP (an absent document key is absent, not null-valued)
      case (sa: StructType, mt: MapType) =>
        val keys = array(sa.fields.map(f => lit(f.name)).toIndexedSeq: _*)
        val vals = array(sa.fields.map(f =>
          convert(c.getField(f.name), f.dataType, mt.valueType))
          .toIndexedSeq: _*)
        when(c.isNull, lit(null).cast(mt)).otherwise(
          map_filter(map_from_arrays(keys, vals), (_, v) => v.isNotNull)
            .cast(mt))
      case (sa: StructType, st: StructType) =>
        val srcF = sa.fields.map(f => f.name -> f.dataType).toMap
        val rebuilt = struct(st.fields.map { tf =>
          (srcF.get(tf.name) match {
            case Some(ft) => convert(c.getField(tf.name), ft, tf.dataType)
            case None => lit(null).cast(tf.dataType)
          }).as(tf.name)
        }.toIndexedSeq: _*)
        when(c.isNull, lit(null).cast(st)).otherwise(rebuilt)
      case (ArrayType(ea, _), ArrayType(eb, _)) =>
        transform(c, x => convert(x, ea, eb)).cast(to)
      case (MapType(_, va, _), MapType(_, vb, _)) =>
        transform_values(c, (_, v) => convert(v, va, vb)).cast(to)
      case _ => c.cast(to)
    }
  }
}
