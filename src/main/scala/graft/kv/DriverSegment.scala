package graft.kv

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Path, Paths}

/** Driver-side CDC segment maintenance for the fulltext flavor — the
  * write-path counterpart of the millisecond serving path (DriverRead),
  * and the Spark-native analog of the reference's SYNCHRONOUS per-Put
  * index maintenance (KVIndexTable.kt:95-125: each base write updates
  * the index rows in-line, no batch job).
  *
  * A CDC patch is bounded by contract (unbounded writes take the bulk
  * path and leave analytic indexes STALE), so the four patch-sized
  * fulltext artifacts — positional segment, postings segment,
  * tombstones, df delta — do not need a distributed engine: four tiny
  * Spark write actions cost ~10 scheduler round-trips per merge, where
  * the same work is microseconds of driver CPU. Correctness holds
  * because the analysis runs through the IDENTICAL static kernels the
  * Spark expressions compile to (HashOps.tokens / stemWord — one
  * implementation, three execution modes), and the files are plain
  * sorted parquet that the segmented read view consumes exactly like
  * Spark-written ones (SegmentedIndexSpec drives both paths).
  *
  * Driver path applies when the rowkey is long/int/string and the
  * indexed column is text; anything else falls back to the Spark
  * build. */
private[kv] object DriverSegment {

  /** Rowkey types the parquet writer maps directly. */
  def supports(rkType: DataType, colType: DataType): Boolean =
    colType == StringType &&
      (rkType == LongType || rkType == IntegerType || rkType == StringType)

  /** The exact analysis chain of FullText.buildPositional: tokenize
    * (0-based positions), and under `english` drop stopwords KEEPING
    * original offsets, then stem. */
  private def analyze(text: String, english: Boolean): Seq[(String, Int)] = {
    if (text == null) return Nil
    val toks = graft.plans.HashOps.tokens(UTF8String.fromString(text))
    val out = Seq.newBuilder[(String, Int)]
    var i = 0
    while (i < toks.numElements()) {
      val t = toks.getUTF8String(i).toString
      if (!english) out += ((t, i))
      else if (!graft.index.FullText.StopWordsEn.contains(t))
        out += ((graft.plans.HashOps.stemWord(t), i))
      i += 1
    }
    out.result()
  }

  private def rkField(rkType: DataType) = rkType match {
    case LongType =>
      Types.optional(PrimitiveTypeName.INT64)
    case IntegerType =>
      Types.optional(PrimitiveTypeName.INT32)
    case StringType =>
      Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType())
    case other => throw new IllegalArgumentException(s"rk type $other")
  }

  private def termField =
    Types.optional(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType())

  /** Stage one single-file parquet artifact named `name`; `after`
    * adds sidecar files to its dir. */
  private def writeFile(stage: ArtifactStage, name: String, schema: MessageType,
                        after: Path => Unit = _ => ())
                       (fill: (MessageType, SimpleGroup => Unit) => Unit): Unit =
    stage.stage(name) { p =>
      val dir = Paths.get(p)
      Files.createDirectories(dir)
      val conf = new Configuration(false)
      val w: ParquetWriter[org.apache.parquet.example.data.Group] =
        ExampleParquetWriter
          .builder(new org.apache.hadoop.fs.Path(
            dir.resolve("part-00000.parquet").toUri.toString))
          .withConf(conf)
          .withType(schema)
          .withCompressionCodec(CompressionCodecName.SNAPPY)
          .build()
      try fill(schema, g => w.write(g)) finally w.close()
      after(dir)
    }

  private def addRk(g: SimpleGroup, field: String, rk: Any): Unit = rk match {
    case l: java.lang.Long => g.add(field, l.longValue())
    case i: java.lang.Integer => g.add(field, i.intValue())
    case s: String => g.add(field, s)
    case other => throw new IllegalArgumentException(
      s"unsupported rowkey value $other")
  }

  /** Build the fulltext segment artifacts for one CDC merge into
    * `stage`. `patch` and `pre` are (rowkey, text) pairs — the patch
    * rows and the pre-image of the patched keys. Terms are sorted
    * before writing (the row-group pruning contract KvLayout's
    * term-sorted layout gives Spark-written segments). */
  def writeFulltext(stage: ArtifactStage, next: Int,
                    patch: Array[Row], pre: Array[Row],
                    analyzer: String, rkType: DataType): Unit = {
    val english = analyzer == "english"
    // (rk, term, pos) for the patch — the positional segment
    val positional: Array[(Any, String, Int)] = patch.flatMap { r =>
      val rk = r.get(0)
      analyze(if (r.isNullAt(1)) null else r.getString(1), english)
        .map { case (t, p) => (rk, t, p) }
    }
    val sortedPos = positional.sortBy(_._2)
    writeFile(stage, s"posseg_v$next",
      Types.buildMessage()
        .addField(rkField(rkType).named("doc_id"))
        .addField(termField.named("term"))
        .addField(Types.optional(PrimitiveTypeName.INT32).named("pos"))
        .named("spark_schema")) { (schema, write) =>
      sortedPos.foreach { case (rk, t, p) =>
        val g = new SimpleGroup(schema)
        addRk(g, "doc_id", rk); g.add("term", t); g.add("pos", p)
        write(g)
      }
    }
    // postings segment: tf per (term, doc)
    val postings = positional.groupBy(r => (r._2, r._1))
      .map { case ((t, rk), rows) => (t, rk, rows.length.toLong) }
      .toArray.sortBy(_._1)
    writeFile(stage, s"seg_v$next",
      Types.buildMessage()
        .addField(termField.named("term"))
        .addField(rkField(rkType).named("doc_id"))
        .addField(Types.optional(PrimitiveTypeName.INT64).named("tf"))
        .named("spark_schema")) { (schema, write) =>
      postings.foreach { case (t, rk, tf) =>
        val g = new SimpleGroup(schema)
        g.add("term", t); addRk(g, "doc_id", rk); g.add("tf", tf)
        write(g)
      }
    }
    // norms segment: token count per patched doc, plus the scalar
    // meta (n, Σdl) — the ranked serving path's per-artifact source
    // for dl seeks and the live (N, avgdl) derivation
    val norms = positional.groupBy(_._1)
      .map { case (rk, rows) => (rk, rows.length.toLong) }
      .toArray.sortBy(_._1.toString)
    writeFile(stage, s"normseg_v$next",
      Types.buildMessage()
        .addField(rkField(rkType).named("doc_id"))
        .addField(Types.optional(PrimitiveTypeName.INT64).named("dl"))
        .named("spark_schema"),
      after = dir => Files.writeString(dir.resolve("_graft_norm_meta.json"),
        s"""{"n":${norms.length},"total":${norms.map(_._2).sum}}"""): Unit) {
      (schema, write) =>
      norms.foreach { case (rk, dl) =>
        val g = new SimpleGroup(schema)
        addRk(g, "doc_id", rk); g.add("dl", dl)
        write(g)
      }
    }

    // tombstones: distinct patched rowkeys
    val tombs = patch.map(_.get(0)).distinct
    writeFile(stage, s"tomb_v$next",
      Types.buildMessage()
        .addField(rkField(rkType).named("rk"))
        .named("spark_schema")) { (schema, write) =>
      tombs.foreach { rk =>
        val g = new SimpleGroup(schema)
        addRk(g, "rk", rk)
        write(g)
      }
    }
    // df delta: +distinct docs per term in the segment, -distinct docs
    // per term in the pre-image
    val add = positional.map(r => (r._2, r._1)).distinct
      .groupBy(_._1).map { case (t, xs) => t -> xs.length.toLong }
    val remove = pre.flatMap { r =>
      val rk = r.get(0)
      analyze(if (r.isNullAt(1)) null else r.getString(1), english)
        .map { case (t, _) => (t, rk) }
    }.distinct.groupBy(_._1).map { case (t, xs) => t -> xs.length.toLong }
    val delta = (add.keySet ++ remove.keySet).toArray.sorted.flatMap { t =>
      val d = add.getOrElse(t, 0L) - remove.getOrElse(t, 0L)
      if (d == 0L) None else Some((t, d))
    }
    writeFile(stage, s"dictdelta_v$next",
      Types.buildMessage()
        .addField(termField.named("term"))
        .addField(Types.optional(PrimitiveTypeName.INT64).named("ddf"))
        .named("spark_schema")) { (schema, write) =>
      delta.foreach { case (t, d) =>
        val g = new SimpleGroup(schema)
        g.add("term", t); g.add("ddf", d)
        write(g)
      }
    }
  }
}
