package graft.sources

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.ByteBuffer
import java.sql.{Date, Timestamp}
import java.util.{ArrayList => JArrayList, HashMap => JHashMap}

import scala.collection.JavaConverters._

import org.apache.avro.{LogicalType, LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.Schema.Type
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileStream,
  DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader,
  GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.avro.util.Utf8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode,
  SparkSession}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider,
  DataSourceRegister, PrunedScan, RelationProvider, SchemaRelationProvider}
import org.apache.spark.sql.types._

/** Avro container-file source/sink (reference: serde2/avro/AvroSerDe.java,
  * AvroDeserializer.java, AvroSerializer.java — `STORED AS AVRO` tables).
  * The distribution ships the Avro core jars but not the spark-avro
  * connector, so this is a self-contained reader/writer on the public
  * Avro 1.12 API, registered as a Spark V1 data source under the short
  * name "avro".
  *
  * Scale design: Avro container files are splittable on their sync
  * markers (AvroSerdeUtils reads them the same way via mapred splits).
  * The reader therefore parallelizes on BLOCK SPLITS, not whole files —
  * each task seeks to the first sync past its split start and reads
  * until the first sync past its end, so one 10 GB file fans out across
  * the cluster exactly like the reference's mapred input format. Schema
  * is read once, from a single file header, on the driver.
  *
  * Type bridge (both directions): null unions → nullable; decimal
  * (bytes + logicalType decimal, AvroSerDe.DECIMAL_TYPE_NAME), date
  * (int), timestamp-millis/micros (long), enum → string, fixed → binary,
  * array/map/record recursively. Spark writes timestamp-micros to keep
  * its microsecond precision (Hive 2.x writes millis; both are read).
  */
object AvroIO {

  /** Default split size: one task per 128 MB of container file. */
  val DefaultSplitBytes: Long = 128L * 1024 * 1024

  // ---------------------------------------------------------------- schema

  /** Avro → Spark type. Unions must be [null, X]; general unions are the
    * reference's uniontype, which our engine models as a tagged struct
    * (create_union) and does not accept from Avro files either.
    */
  /** Pre-spec Avro decimals carry precision/scale as STRING props,
    * which the Avro library refuses to parse into a LogicalType; the
    * reference's AvroSerdeUtils reads them leniently
    * (serde/avro/AvroSerdeUtils.getPrecisionScale). */
  private def legacyDecimal(s: Schema): Option[(Int, Int)] =
    // string-prop decimals apply to BYTES only, and the reference
    // compares the logicalType prop case-insensitively
    // (SchemaToTypeInfo.java:134 — FIXED legacy decimals stay binary)
    if (s.getType != Type.BYTES ||
        !"decimal".equalsIgnoreCase(s.getProp("logicalType"))) None
    else {
      def prop(n: String, dflt: Int) =
        Option(s.getObjectProp(n)).map(_.toString.replace("\"", "")
          .trim.toInt).getOrElse(dflt)
      Some((prop("precision", 38), prop("scale", 0)))
    }

  def sparkType(s: Schema): DataType = s.getType match {
    case Type.BOOLEAN => BooleanType
    case Type.INT =>
      if (isLogical(s, "date")) DateType else IntegerType
    case Type.LONG =>
      if (isLogical(s, "timestamp-millis") || isLogical(s, "timestamp-micros"))
        TimestampType
      else LongType
    case Type.FLOAT => FloatType
    case Type.DOUBLE => DoubleType
    case Type.STRING => StringType
    case Type.ENUM => StringType
    case Type.BYTES | Type.FIXED =>
      s.getLogicalType match {
        case d: LogicalTypes.Decimal => DecimalType(d.getPrecision, d.getScale)
        case _ => legacyDecimal(s) match {
          case Some((p, sc)) => DecimalType(p, sc)
          case None => BinaryType
        }
      }
    case Type.ARRAY => ArrayType(sparkType(s.getElementType))
    case Type.MAP => MapType(StringType, sparkType(s.getValueType))
    case Type.RECORD => StructType(s.getFields.asScala.toSeq.map(f =>
      // Hive lower-cases every identifier it reads from an Avro
      // schema (AvroSerDe column names are case-insensitive)
      StructField(f.name.toLowerCase(java.util.Locale.ROOT),
        sparkType(f.schema))))
    case Type.UNION =>
      val branches = s.getTypes.asScala.filterNot(_.getType == Type.NULL)
      if (branches.size == 1) sparkType(branches.head)
      else
        // general union = the reference's uniontype; modeled as the
        // engine's tagged struct (TableFunctions.createUnionBuilder): tag
        // indexes the NON-NULL alternatives (AvroDeserializer maps
        // [null, int, double] to uniontype<int,double>)
        StructType(StructField("tag", IntegerType) +:
          branches.zipWithIndex.map { case (b, i) =>
            StructField(s"field$i", sparkType(b)) }.toSeq)
    case Type.NULL => NullType
  }

  private def isLogical(s: Schema, name: String): Boolean = {
    val lt = s.getLogicalType
    lt != null && lt.getName == name
  }

  /** Spark → Avro schema; nullable fields become [null, X] unions. */
  def avroSchema(dt: DataType, name: String): Schema = dt match {
    case BooleanType => Schema.create(Type.BOOLEAN)
    case ByteType | ShortType | IntegerType => Schema.create(Type.INT)
    case LongType => Schema.create(Type.LONG)
    case FloatType => Schema.create(Type.FLOAT)
    case DoubleType => Schema.create(Type.DOUBLE)
    case StringType => Schema.create(Type.STRING)
    case BinaryType => Schema.create(Type.BYTES)
    case DateType =>
      LogicalTypes.date().addToSchema(Schema.create(Type.INT))
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(Schema.create(Type.LONG))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(Schema.create(Type.BYTES))
    case ArrayType(et, containsNull) =>
      Schema.createArray(option(avroSchema(et, name + "_item"), containsNull))
    case MapType(StringType, vt, valueContainsNull) =>
      Schema.createMap(option(avroSchema(vt, name + "_value"),
        valueContainsNull))
    case st: StructType =>
      val rec = Schema.createRecord(name, null, "graft.avro", false)
      rec.setFields(st.fields.toSeq.map { f =>
        new Schema.Field(f.name,
          option(avroSchema(f.dataType, name + "_" + f.name), f.nullable),
          null, if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
      }.asJava)
      rec
    case other => sys.error(s"unsupported avro sink type: $other")
  }

  private def option(s: Schema, nullable: Boolean): Schema =
    if (nullable) Schema.createUnion(Schema.create(Type.NULL), s) else s

  // ----------------------------------------------------------------- read

  /** One reader task: (file, start, end) — read records in blocks whose
    * first sync marker falls in [start, end). */
  private case class Split(path: String, start: Long, end: Long)

  /** Reader schema for a directory: the UNION of every file's header
    * schema (fields merged by name, order of first appearance), so a
    * directory whose newest file carries an evolved schema exposes the
    * added columns — older files read them as null through
    * [[readPruned]]'s per-file resolution. Same-name fields with
    * different wire types fail loudly here rather than at scan time.
    *
    * Scale: header reads only (one small seek per file). Many-file
    * directories fan the header reads out on the cluster; small ones
    * read on the driver. */
  def inferSchema(spark: SparkSession, path: String): StructType = {
    val (files, fs) = listAvro(spark, path)
    require(files.nonEmpty, s"no .avro files under $path")
    def headerSchema(open: () => java.io.InputStream): Schema = {
      val in = open()
      try {
        val stream = new DataFileStream[GenericRecord](in,
          new GenericDatumReader[GenericRecord]())
        val s = stream.getSchema
        stream.close()
        s
      } finally in.close()
    }
    val schemas: Seq[StructType] =
      if (files.size <= 16)
        files.map(f => sparkType(headerSchema(() =>
          fs.open(f.getPath))).asInstanceOf[StructType])
      else {
        val confBc = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            spark.sessionState.newHadoopConf()))
        spark.sparkContext
          .parallelize(files.map(_.getPath.toString),
            math.min(files.size, spark.sparkContext.defaultParallelism))
          .map { p =>
            val hp = new Path(p)
            headerSchema(() =>
              hp.getFileSystem(confBc.value.value).open(hp)).toString
          }
          .collect().toSeq.distinct
          .map(j => sparkType(new Schema.Parser().parse(j))
            .asInstanceOf[StructType])
      }
    schemas.reduce { (a, b) =>
      val known = a.fieldNames.map(_.toLowerCase).toSet
      b.fields.foreach { f =>
        if (known.contains(f.name.toLowerCase)) {
          val af = a(a.fieldIndex(f.name))
          require(af.dataType == f.dataType,
            s"avro schema conflict under $path: field '${f.name}' is " +
              s"${af.dataType} in one file and ${f.dataType} in another")
        }
      }
      StructType(a.fields ++
        b.fields.filterNot(f => known.contains(f.name.toLowerCase)))
    }
  }

  private def listAvro(spark: SparkSession, path: String) = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(s => s.isFile &&
          s.getPath.getName.endsWith(".avro")).toSeq
      else Seq(fs.getFileStatus(p))
    (files, fs)
  }

  def read(spark: SparkSession, path: String,
      schema: Option[StructType] = None,
      splitBytes: Long = DefaultSplitBytes): DataFrame = {
    val st = schema.getOrElse(inferSchema(spark, path))
    readPruned(spark, path, st, st.fieldNames, splitBytes)
  }

  /** Structural type equality ignoring nullability flags (a user schema
    * may tighten nullability without changing the wire type). */
  private def sameShape(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(ae, _), ArrayType(be, _)) => sameShape(ae, be)
    case (MapType(ak, av, _), MapType(bk, bv, _)) =>
      sameShape(ak, bk) && sameShape(av, bv)
    case (as: StructType, bs: StructType) =>
      as.length == bs.length && as.fields.zip(bs.fields).forall {
        case (af, bf) => af.name == bf.name &&
          sameShape(af.dataType, bf.dataType)
      }
    case _ => a == b
  }

  /** Column-pruned scan: full records are decoded (row format — same cost
    * profile as the reference serde) but only requested fields are
    * converted and carried.
    *
    * Each task resolves the declared columns against ITS OWN file's
    * writer schema (files in one directory may diverge): a type mismatch
    * fails with a named error instead of emitting rows whose runtime
    * types disagree with the declared StructType, and a field missing
    * from an older file reads as null when the declared column is
    * nullable (Avro reader-schema evolution for the add-a-column case;
    * ref: serde2/avro/SchemaResolutionProblem handling in AvroSerDe). */
  def readPruned(spark: SparkSession, path: String, full: StructType,
      required: Array[String], splitBytes: Long): DataFrame = {
    val (files, _) = listAvro(spark, path)
    val splits = files.flatMap { f =>
      val len = f.getLen
      (0L until len by splitBytes.max(1L)).map(s =>
        Split(f.getPath.toString, s, (s + splitBytes).min(len)))
    }
    val pruned = StructType(required.map(n => full(full.fieldIndex(n))))
    val fieldInfo = pruned.fields.toSeq.map(f =>
      (f.name, f.dataType, f.nullable)) // serializable
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    val slices = math.max(1, math.min(splits.size,
      spark.sparkContext.defaultParallelism))
    val rdd = spark.sparkContext.parallelize(splits, slices)
      .flatMap { sp =>
        val reader = new DataFileReader[GenericRecord](
          new FsInput(new Path(sp.path), confBc.value.value),
          new GenericDatumReader[GenericRecord]())
        var closed = false
        def closeOnce(): Unit = if (!closed) { closed = true; reader.close() }
        // limit/take/early-terminating joins abandon the iterator before
        // exhaustion — the task-completion hook closes the file anyway
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => closeOnce())
        // claim blocks whose sync lands in [start, end): standard avro
        // mapred split protocol (sync past start, read until pastSync(end))
        reader.sync(sp.start)
        val fileSchema = reader.getSchema
        val fields = fieldInfo.map { case (name, declared, nullable) =>
          Option(fileSchema.getField(name)) match {
            case Some(f) =>
              val fileType = sparkType(f.schema())
              if (!sameShape(fileType, declared)) sys.error(
                s"avro schema mismatch in ${sp.path}: field '$name' is " +
                  s"$fileType in the file but declared $declared")
              Some(f)
            case None =>
              if (!nullable) sys.error(
                s"avro file ${sp.path} has no field '$name' and the " +
                  "declared column is not nullable")
              None
          }
        }
        new Iterator[Row] {
          private var done = false
          def hasNext: Boolean = {
            if (!done && (!reader.hasNext || reader.pastSync(sp.end))) {
              done = true; closeOnce()
            }
            !done
          }
          def next(): Row = {
            val rec = reader.next()
            Row.fromSeq(fields.map {
              case Some(f) => fromAvro(rec.get(f.pos()), f.schema())
              case None => null
            })
          }
        }
      }
    spark.createDataFrame(rdd, pruned)
  }

  /** Avro runtime value → external Spark row value. */
  def fromAvro(v: Any, s: Schema): Any = {
    if (v == null) return null
    s.getType match {
      case Type.UNION =>
        val branches = s.getTypes.asScala.filterNot(_.getType == Type.NULL)
        if (branches.size == 1) fromAvro(v, branches.head)
        else {
          // tagged-struct uniontype value: resolve the runtime branch
          val idx = GenericData.get().resolveUnion(s, v)
          val b = s.getTypes.get(idx)
          if (b.getType == Type.NULL) null
          else {
            val tag = branches.indexOf(b)
            Row.fromSeq(tag +: branches.indices.map(i =>
              if (i == tag) fromAvro(v, branches(i)) else null).toSeq)
          }
        }
      case Type.STRING => v.toString
      case Type.ENUM => v.toString
      case Type.BYTES | Type.FIXED =>
        val bytes = v match {
          case bb: ByteBuffer =>
            val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b); b
          case f: GenericData.Fixed => f.bytes()
          case b: Array[Byte] => b
        }
        s.getLogicalType match {
          case d: LogicalTypes.Decimal =>
            new JBigDecimal(new BigInteger(bytes), d.getScale)
          case _ => legacyDecimal(s) match {
            case Some((_, sc)) =>
              new JBigDecimal(new BigInteger(bytes), sc)
            case None => bytes
          }
        }
      case Type.INT if isLogical(s, "date") =>
        Date.valueOf(java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[Int].toLong))
      case Type.LONG if isLogical(s, "timestamp-millis") =>
        new Timestamp(v.asInstanceOf[Long])
      case Type.LONG if isLogical(s, "timestamp-micros") =>
        val us = v.asInstanceOf[Long]
        val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
        t
      case Type.ARRAY =>
        v.asInstanceOf[java.util.Collection[Any]].asScala.toSeq
          .map(fromAvro(_, s.getElementType))
      case Type.MAP =>
        v.asInstanceOf[java.util.Map[Any, Any]].asScala.map { case (k, mv) =>
          k.toString -> fromAvro(mv, s.getValueType)
        }.toMap
      case Type.RECORD =>
        val rec = v.asInstanceOf[GenericRecord]
        Row.fromSeq(s.getFields.asScala.toSeq.map(f =>
          fromAvro(rec.get(f.pos()), f.schema())))
      case _ => v // boolean/int/long/float/double pass through
    }
  }

  // ---------------------------------------------------------------- write

  /** External Spark row value → Avro runtime value. */
  def toAvro(v: Any, dt: DataType, s: Schema): Any = {
    if (v == null) return null
    val target = if (s.getType == Type.UNION)
      s.getTypes.asScala.find(_.getType != Type.NULL).get else s
    (dt, v) match {
      case (StringType, x) => x.toString
      case (BinaryType, b: Array[Byte]) => ByteBuffer.wrap(b)
      case (DateType, d: Date) => d.toLocalDate.toEpochDay.toInt
      case (TimestampType, t: Timestamp) =>
        Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      case (d: DecimalType, x: JBigDecimal) =>
        ByteBuffer.wrap(x.setScale(d.scale).unscaledValue().toByteArray)
      case (d: DecimalType, x: BigDecimal) =>
        toAvro(x.bigDecimal, d, target)
      case (ByteType, x: Byte) => x.toInt
      case (ShortType, x: Short) => x.toInt
      case (ArrayType(et, _), xs: scala.collection.Seq[_]) =>
        val out = new JArrayList[Any](xs.size)
        xs.foreach(e => out.add(toAvro(e, et, target.getElementType)))
        out
      case (MapType(_, vt, _), m: scala.collection.Map[_, _]) =>
        val out = new JHashMap[Any, Any](m.size)
        m.foreach { case (k, mv) =>
          out.put(k.toString, toAvro(mv, vt, target.getValueType))
        }
        out
      case (st: StructType, r: Row) =>
        val rec = new GenericData.Record(target)
        st.fields.zipWithIndex.foreach { case (f, i) =>
          rec.put(i, toAvro(r.get(i), f.dataType,
            target.getFields.get(i).schema()))
        }
        rec
      case (_, x) => x
    }
  }

  def write(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite,
      compression: String = "snappy"): Unit = {
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val out = new Path(path)
    val fs = out.getFileSystem(conf)
    if (fs.exists(out)) mode match {
      case SaveMode.Overwrite => fs.delete(out, true)
      case SaveMode.ErrorIfExists => sys.error(s"path exists: $path")
      case SaveMode.Ignore => return
      case SaveMode.Append => // fall through, part files get fresh names
    }
    fs.mkdirs(out)
    val st = df.schema
    val schemaJson = avroSchema(st, "topLevelRecord").toString
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    df.rdd.mapPartitionsWithIndex { (i, rows) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val schema = new Schema.Parser().parse(schemaJson)
        val file = new Path(path, f"part-$i%05d-$stamp.avro")
        val os = file.getFileSystem(confBc.value.value).create(file, true)
        val w = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](schema))
        w.setCodec(compression match {
          case "none" => CodecFactory.nullCodec()
          case "deflate" => CodecFactory.deflateCodec(6)
          case "zstd" => CodecFactory.zstandardCodec(3)
          case _ => CodecFactory.snappyCodec()
        })
        w.create(schema, os)
        rows.foreach { r =>
          w.append(toAvro(r, st, schema).asInstanceOf[GenericRecord])
        }
        w.close()
        Iterator.single(1)
      }
    }.count(): Unit
  }
}

/** `spark.read.format("avro")` / `df.write.format("avro")` registration
  * (V1 relation API; META-INF/services carries the short name). */
class AvroDataSource extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = "avro"

  private def path(parameters: Map[String, String]): String =
    parameters.getOrElse("path", sys.error("avro source requires a path"))

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    AvroRelation(path(parameters), None,
      parameters.get("splitBytes").map(_.toLong)
        .getOrElse(AvroIO.DefaultSplitBytes))(ctx)

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String], schema: StructType): BaseRelation =
    AvroRelation(path(parameters), Some(schema),
      parameters.get("splitBytes").map(_.toLong)
        .getOrElse(AvroIO.DefaultSplitBytes))(ctx)

  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val p = path(parameters)
    AvroIO.write(data, p, mode,
      parameters.getOrElse("compression", "snappy"))
    AvroRelation(p, Some(data.schema), AvroIO.DefaultSplitBytes)(ctx)
  }
}

case class AvroRelation(path: String, userSchema: Option[StructType],
    splitBytes: Long)(@transient val ctx: SQLContext)
    extends BaseRelation with PrunedScan {

  override def sqlContext: SQLContext = ctx

  override val schema: StructType =
    userSchema.getOrElse(AvroIO.inferSchema(ctx.sparkSession, path))

  override def buildScan(
      requiredColumns: Array[String]): org.apache.spark.rdd.RDD[Row] = {
    // empty projection (e.g. count(*)) still needs row multiplicity
    val cols = if (requiredColumns.isEmpty) Array(schema.fieldNames.head)
      else requiredColumns
    val df = AvroIO.readPruned(ctx.sparkSession, path, schema, cols,
      splitBytes)
    if (requiredColumns.isEmpty) df.rdd.map(_ => Row.empty) else df.rdd
  }
}
