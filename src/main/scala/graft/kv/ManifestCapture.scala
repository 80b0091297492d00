package graft.kv

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, input_file_name, udaf}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.CollectionAccumulator

/** Write-time range manifests — the HBase StoreFile recipe: a flush
  * writes each HFile's rowkey range and bloom block inline, so no Get
  * or Put ever re-reads a file to learn what it holds. Here the job
  * that WRITES a snapshot (or a kv-index version) folds every output
  * file's manifest entry ([[FileRange]]: leading-key bounds, the z
  * second key's bounds, the rowkey [[BloomBits]] filter) while its
  * rows stream into the parquet writer, so publishing the manifest
  * costs no second Spark action.
  *
  * Mechanism: [[instrument]] routes the key column through
  * [[FileStatsExpr]], an identity expression placed ABOVE the
  * sort-within-partitions, i.e. in the write stage itself. Each write
  * task folds its rows into one [[FileStatsFold]] and ships the folded
  * entry through an accumulator when the task completes, labelled with
  * its partition id — the `part-NNNNN` number Spark's file writer
  * gives the one file the task writes. [[entries]] maps labels onto
  * the files listed after the write. The expression is
  * non-deterministic so the optimizer can neither move it out of the
  * write stage nor evaluate it twice per row.
  *
  * Files that cannot be attributed fall back conservatively: a file no
  * task reported on is the empty-job file (partition 0, zero rows) and
  * gets null bounds (always "touched", never excluded), and a task
  * that wrote SEVERAL files (`spark.sql.files.maxRecordsPerFile`)
  * makes [[entries]] return None — the caller scans the written dir
  * instead ([[ManifestCapture.scan]], which runs the same fold per
  * input file as an aggregate).
  *
  * One capture serves exactly one write. */
final class ManifestCapture private[kv] (spark: SparkSession, schema: StructType,
                                         keyCol: String, secondCol: Option[String]) {
  private val sink =
    FileStatsSink(spark, schema(keyCol).dataType, secondCol.map(schema(_).dataType))

  /** `df` with its key column routed through the capture: same
    * columns, order, values and field metadata. Apply to the frame the
    * writer consumes, after its last shuffle or sort. */
  private[kv] def instrument(df: DataFrame): DataFrame = {
    val stats = FileStatsExpr(
      expression(df.col(keyCol)) +: secondCol.map(c => expression(df.col(c))).toSeq,
      sink)
    df.select(df.schema.fields.toSeq.map { f =>
      if (f.name == keyCol) column(stats).as(f.name, f.metadata) else df.col(f.name)
    }: _*)
  }

  /** The manifest entries of the parquet files the instrumented write
    * left in `dir`, or None when a task's entry cannot be attributed to
    * exactly one file (the caller scans instead). */
  private[kv] def entries(dir: Path): Option[Seq[FileRange]] = {
    val byPart = sink.reported
    val files = ManifestCapture.partFiles(dir)
    val ids = files.map(f => f -> ManifestCapture.partId(f))
    val attributable =
      ids.forall(_._2.isDefined) &&
        ids.flatMap(_._2).distinct.size == ids.size &&
        byPart.keySet.subsetOf(ids.flatMap(_._2).map(_.toString).toSet) &&
        ids.forall { case (_, id) => id.contains(0) || byPart.contains(id.get.toString) }
    if (!attributable) None
    else Some(ids.map { case (f, id) =>
      byPart.get(id.get.toString).map(_.copy(file = f))
        .getOrElse(FileRange(f, null, null))
    })
  }
}

private[kv] object ManifestCapture {
  /** Canonical comparable form: every integral → Long, every floating
    * → Double, so a JSON-round-tripped bound compares against a typed
    * patch key without a ClassCastException. Other key types (decimal,
    * timestamp) pass through — they never persist to the manifest, so
    * both sides stay same-typed. */
  def canonKey(x: Any): Any = x match {
    case null => null
    case n: java.lang.Long    => n
    case n: java.lang.Integer => java.lang.Long.valueOf(n.longValue())
    case n: java.lang.Short   => java.lang.Long.valueOf(n.longValue())
    case n: java.lang.Byte    => java.lang.Long.valueOf(n.longValue())
    case n: java.lang.Float   => java.lang.Double.valueOf(n.doubleValue())
    case other => other
  }

  def partFiles(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).toList.sorted
    finally s.close()
  }

  /** The write task's partition id in a `part-NNNNN-<job>-cNNN` name. */
  private val PartName = "part-(\\d+)-.*".r
  def partId(file: String): Option[Int] = file match {
    case PartName(n) => scala.util.Try(n.toInt).toOption
    case _ => None
  }

  /** Entries for the parquet files of an existing dir, folded over one
    * read of its key column(s) — the heal path for a snapshot whose
    * manifest is missing or corrupt. One [[FileStatsAgg]] group per
    * input file: the same fold and bloom sizing as the write path, run
    * by Spark's object-hash aggregation, which falls back to sorting
    * past a bounded number of groups, so a task reading many files
    * never holds one cap-sized fold per file. Zero-row files yield no
    * entry (callers pad them). */
  def scan(spark: SparkSession, df: DataFrame, keyCol: String,
           secondCol: Option[String]): Seq[FileRange] = {
    val keyType = df.schema(keyCol).dataType
    val agg = new FileStatsAgg(keyType, secondCol.map(df.schema(_).dataType),
      BloomSizing.forKey(spark, keyType))
    df.groupBy(input_file_name().as("f"))
      .agg(udaf(agg, Encoders.row(agg.inputSchema))(
        (col(keyCol) +: secondCol.map(col).toSeq): _*).as("s"))
      .collect().toSeq.map { r =>
        val s = r.getStruct(1)
        FileRange(r.getString(0).split("/").last, canonKey(s.get(0)), canonKey(s.get(1)),
          secondCol.map(_ => (canonKey(s.get(3)), canonKey(s.get(4)))),
          Option(s.getAs[Array[Byte]](2)))
      }
  }
}

/** One file's manifest entry, folded row by row on the executor:
  * leading-key min/max (Spark's ordering for the type, nulls skipped —
  * the `min`/`max` aggregate semantics), the second key's min/max, the
  * row count, and the rowkey bloom built at the sizing cap over
  * xxhash64(key) (seed 42; a null key hashes to the seed, like the
  * expression) and folded by [[BloomSizing.finish]]. Bounds stay in
  * Catalyst's internal form. Serializable, so the heal scan's
  * aggregation can ship and spill it as its buffer. */
private[kv] final class FileStatsFold(keyType: DataType, secondType: Option[DataType],
                                      bloom: Option[BloomSizing]) extends Serializable {
  @transient private lazy val ord = PhysicalDataType.ordering(keyType)
  @transient private lazy val ord2 = secondType.map(PhysicalDataType.ordering)
  private var rows = 0L
  private var lo, hi, lo2, hi2: Any = null
  private val bits = bloom.map(b => new Array[Byte](b.maxBits / 8))

  // a string value may point into a reused row buffer
  private def own(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case other => other
  }

  private def lower(o: Ordering[Any], a: Any, b: Any): Any =
    if (b == null || (a != null && o.lt(a, b))) own(a) else b
  private def higher(o: Ordering[Any], a: Any, b: Any): Any =
    if (b == null || (a != null && o.gt(a, b))) own(a) else b

  def add(k: Any, k2: Any): Unit = {
    rows += 1
    if (k != null) { lo = lower(ord, k, lo); hi = higher(ord, k, hi) }
    ord2.foreach { o =>
      if (k2 != null) { lo2 = lower(o, k2, lo2); hi2 = higher(o, k2, hi2) }
    }
    bits.foreach(b => BloomBits.set(b,
      if (k == null) 42L else XxHash64Function.hash(k, keyType, 42L)))
  }

  /** This fold widened by `o`'s rows (bit positions OR together). */
  def merge(o: FileStatsFold): FileStatsFold = {
    rows += o.rows
    if (o.lo != null) { lo = lower(ord, o.lo, lo); hi = higher(ord, o.hi, hi) }
    ord2.foreach { o2 =>
      if (o.lo2 != null) { lo2 = lower(o2, o.lo2, lo2); hi2 = higher(o2, o.hi2, hi2) }
    }
    for (b <- bits; ob <- o.bits) {
      var i = 0
      while (i < b.length) { b(i) = (b(i) | ob(i)).toByte; i += 1 }
    }
    this
  }

  def result(label: String): FileRange =
    FileRange(label, lo, hi, secondType.map(_ => (lo2, hi2)),
      bloom.map(_.finish(rows, bits.get)))
}

/** [[FileStatsFold]] as a Spark aggregate over the key (and second
  * key) columns — the heal scan's per-file fold. Output struct: lo,
  * hi, bloom, then lo2, hi2 when a second key is tracked. */
private[kv] final class FileStatsAgg(keyType: DataType, secondType: Option[DataType],
                                     bloom: Option[BloomSizing])
    extends Aggregator[Row, FileStatsFold, Row] {
  def inputSchema: StructType = StructType(StructField("k", keyType) +:
    secondType.map(StructField("k2", _)).toSeq)

  @transient private lazy val toKey = CatalystTypeConverters.createToCatalystConverter(keyType)
  @transient private lazy val toSecond =
    secondType.map(CatalystTypeConverters.createToCatalystConverter)

  override def zero: FileStatsFold = new FileStatsFold(keyType, secondType, bloom)
  override def reduce(b: FileStatsFold, r: Row): FileStatsFold = {
    b.add(toKey(r.get(0)), toSecond.map(_(r.get(1))).orNull)
    b
  }
  override def merge(a: FileStatsFold, b: FileStatsFold): FileStatsFold = a.merge(b)
  override def finish(b: FileStatsFold): Row = {
    val e = b.result(null)
    def ext(v: Any, dt: DataType) = CatalystTypeConverters.convertToScala(v, dt)
    Row.fromSeq(Seq(ext(e.lo, keyType), ext(e.hi, keyType), e.bloom.orNull) ++
      e.second.toSeq.flatMap { case (a, z) => Seq(ext(a, secondType.get), ext(z, secondType.get)) })
  }
  override def bufferEncoder: Encoder[FileStatsFold] = Encoders.javaSerialization[FileStatsFold]
  override def outputEncoder: Encoder[Row] = Encoders.row(StructType(
    Seq(StructField("lo", keyType), StructField("hi", keyType),
      StructField("bloom", BinaryType)) ++
      secondType.toSeq.flatMap(t => Seq(StructField("lo2", t), StructField("hi2", t)))))
}

private[kv] object FileStatsSink {
  /** A sink over keys of `keyType` (and `secondType`), with its
    * accumulator registered and the bloom sizing read from the conf. */
  def apply(spark: SparkSession, keyType: DataType,
            secondType: Option[DataType]): FileStatsSink = {
    val acc = new CollectionAccumulator[FileRange]
    spark.sparkContext.register(acc)
    new FileStatsSink(keyType, secondType, BloomSizing.forKey(spark, keyType), acc)
  }
}

/** Where a capture's rows go. On the executor: one fold per write
  * task, shipped through the accumulator when the task completes —
  * after the writer's last row and before Spark collects the task's
  * accumulator updates — labelled with the task's partition id.
  * Deserialized fresh for every task, so the transient fold starts
  * empty per task. On the driver: [[reported]]. */
private[kv] final class FileStatsSink(keyType: DataType, secondType: Option[DataType],
                                      bloom: Option[BloomSizing],
                                      acc: CollectionAccumulator[FileRange])
    extends Serializable {
  @transient private var fold: FileStatsFold = _

  /** Driver side: the task results by label, bounds converted from
    * Catalyst's internal form to the manifest's canonical key form. A
    * stage retry reports a label again with the same content, so the
    * last report wins. */
  def reported: Map[String, FileRange] = {
    def canon(v: Any, dt: DataType): Any =
      if (v == null) null
      else ManifestCapture.canonKey(CatalystTypeConverters.convertToScala(v, dt))
    acc.value.asScala.map(r => r.file -> r.copy(
      lo = canon(r.lo, keyType), hi = canon(r.hi, keyType),
      second = r.second.map { case (a, b) =>
        (canon(a, secondType.get), canon(b, secondType.get)) })).toMap
  }

  /** Rows evaluated outside a task (an optimizer folding a local
    * relation on the driver) report nothing: their file gets the
    * conservative entry. */
  def observe(k: Any, k2: Any): Unit = {
    if (fold == null) {
      val tc = TaskContext.get()
      if (tc == null) return
      val f = new FileStatsFold(keyType, secondType, bloom)
      val label = tc.partitionId().toString
      tc.addTaskCompletionListener[Unit](_ => acc.add(f.result(label)))
      fold = f
    }
    fold.add(k, k2)
  }
}

/** Identity over `children.head` (the key column) that feeds every row
  * into the [[FileStatsSink]]; the second child, when present, is the
  * second key. Non-deterministic on purpose: it must run exactly once
  * per row, in the stage where it was placed. */
private[kv] case class FileStatsExpr(children: Seq[Expression], sink: FileStatsSink)
    extends Expression {
  override lazy val deterministic: Boolean = false
  override def nullable: Boolean = children.head.nullable
  override def dataType: DataType = children.head.dataType

  private def second: Option[Expression] = children.lift(1)

  override def eval(input: InternalRow): Any = {
    val k = children.head.eval(input)
    sink.observe(k, second.map(_.eval(input)).orNull)
    k
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fileStats", sink, classOf[FileStatsSink].getName)
    val key = children.head.genCode(ctx)
    def boxed(e: Expression, g: ExprCode): String =
      if (CodeGenerator.isPrimitiveType(e.dataType))
        s"(${g.isNull} ? null : ${CodeGenerator.boxedType(e.dataType)}.valueOf(${g.value}))"
      else s"(${g.isNull} ? null : ${g.value})"
    val sec = second.map(e => (e, e.genCode(ctx)))
    ev.copy(code = code"""
      ${key.code}
      ${sec.map(_._2.code).getOrElse(EmptyBlock)}
      $ref.observe(${boxed(children.head, key)},
        ${sec.map { case (e, g) => boxed(e, g) }.getOrElse("null")});
      boolean ${ev.isNull} = ${key.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${key.value};
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FileStatsExpr = copy(children = newChildren)
}
