package graft.model

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Driver-side reads AND writes of the stores' ONE-ROW metadata tables
  * (stats, meta, pointer, bucket sidecars) — the [[RowEst]] footer
  * pattern extended from row COUNTS to row VALUES.
  *
  * Every store mutation and every indexed read starts by resolving a
  * one-row parquet table, and every mutation ends by committing one.
  * Doing either through Spark costs a full action — parse/plan/codegen
  * plus scheduled jobs (a `repartition(1)` write is an AQE shuffle stage
  * and a write job) — ~60-150 ms of pure fixed overhead on a file that
  * holds ONE row of flat primitives; a serving-store query pays the read
  * 5-15 times, a speed-layer fold pays a write per store. At any scale
  * this metadata is driver-sized by construction (a deployment with a
  * catalog would serve the same row from table properties), so reading
  * and writing it with parquet-hadoop on the driver is the correct cost
  * shape, not a local-mode trick.
  *
  * Supports exactly the shapes the stores use: flat OPTIONAL primitives
  * (plain int64, int32, double, float, boolean, UTF-8 binary), nulls
  * included. On the read side anything else — or any read error other
  * than a missing row — falls back to the Spark read, so correctness
  * never depends on this fast path; [[head]] mirrors `head()`: the first
  * row encountered, throwing (via the Spark fallback) when the table is
  * empty. [[write]] refuses other types loudly, and commits the way the
  * Hadoop committer does (data file complete before `_SUCCESS`), so
  * [[StoreSwap]] classifies a crashed write exactly as a crashed job.
  */
object OneRowParquet {

  /** Write the one-row table `schema` / `values` (one value per field,
    * `null` for a missing one) to `dir`, replacing whatever is there —
    * the driver-side equivalent of
    * `Seq(row).toDF.repartition(1).write.mode(Overwrite).parquet(dir)`,
    * with zero Spark jobs. Spark reads the result back with the same
    * names, types and values.
    *
    * Commit order: the data file is written under a `_`-prefixed
    * staging name (hidden from every reader and from [[StoreSwap]]'s
    * data-present check), renamed into place, then `_SUCCESS` is
    * dropped. A crash while the file is being written leaves a dir with
    * no visible data and no marker — torn, so [[StoreSwap.commit]]
    * discards it and [[StoreSwap.committedPath]] never resolves it; a
    * crash after the rename leaves a complete file.
    */
  def write(spark: SparkSession, dir: String, schema: StructType,
      values: Any*): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    require(values.size == schema.size,
      s"${values.size} values for the ${schema.size} fields of $schema")
    val parquetType = new MessageType("spark_schema",
      schema.fields.toSeq.map { f =>
        val prim = f.dataType match {
          case LongType => PrimitiveTypeName.INT64
          case IntegerType => PrimitiveTypeName.INT32
          case DoubleType => PrimitiveTypeName.DOUBLE
          case FloatType => PrimitiveTypeName.FLOAT
          case BooleanType => PrimitiveTypeName.BOOLEAN
          case StringType => PrimitiveTypeName.BINARY
          case t => throw new IllegalArgumentException(
            s"one-row tables hold flat primitives; ${f.name} is $t")
        }
        val b = Types.optional(prim)
        (if (f.dataType == StringType) b.as(LogicalTypeAnnotation.stringType()) else b)
          .named(f.name): org.apache.parquet.schema.Type
      }: _*)
    val row = new SimpleGroupFactory(parquetType).newGroup()
    for (i <- schema.indices) (schema(i).dataType, values(i)) match {
      case (_, null) => () // OPTIONAL field left unset = null
      case (LongType, x: Long) => row.add(i, x)
      case (IntegerType, x: Int) => row.add(i, x)
      case (DoubleType, x: Double) => row.add(i, x)
      case (FloatType, x: Float) => row.add(i, x)
      case (BooleanType, x: Boolean) => row.add(i, x)
      case (StringType, x: String) => row.add(i, x)
      case (t, x) => throw new IllegalArgumentException(
        s"${schema(i).name}: $t cannot hold ${x.getClass.getName} $x")
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.delete(p, true)
    fs.mkdirs(p)
    val name = s"part-00000-${java.util.UUID.randomUUID()}.parquet"
    val staged = new Path(p, "_" + name)
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(staged, conf))
      .withType(parquetType)
      .withConf(conf)
      .build()
    try writer.write(row) finally writer.close()
    require(fs.rename(staged, new Path(p, name)), s"rename $staged -> $name failed")
    fs.create(new Path(p, "_SUCCESS"), true).close()
  }

  def head(spark: SparkSession, dir: String): Row =
    headOption(spark, dir).getOrElse(
      // empty or unsupported: fall through to Spark for the standard
      // behavior (and the standard error when the table is truly empty)
      spark.read.parquet(dir).head())

  /** First row of the one-row table at `dir`, or None when the
    * driver-side reader cannot serve it (unsupported shape, no part
    * files, reader error). Callers needing head()'s throw-on-empty use
    * [[head]].
    */
  def headOption(spark: SparkSession, dir: String): Option[Row] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new Path(dir)
      // the path's OWN filesystem, not the default one: on s3a://, abfs://
      // etc. FileSystem.get(conf) throws Wrong-FS and the fast path would
      // silently vanish exactly on the object-store deployments it targets
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None // let the fallback raise the real error
      else {
        dataFiles(fs, p).iterator.flatMap(readFirstRow(conf, _)).nextOption()
      }
    } catch {
      case _: Exception => None // fallback owns the error story
    }

  /** The non-empty data files directly under the existing dir `p` —
    * neither `_`-prefixed (staging, markers) nor `.`-prefixed
    * (checksums) — sorted by name.
    */
  def dataFiles(fs: org.apache.hadoop.fs.FileSystem, p: Path): Seq[Path] =
    fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getLen > 0 &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath)
      .sortBy(_.getName)

  private def readFirstRow(conf: org.apache.hadoop.conf.Configuration,
      file: Path): Option[Row] = {
    import org.apache.parquet.conf.HadoopParquetConfiguration
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.api.ReadSupport
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    // the InputFile builder reads `conf` as given; the Path builder first
    // parses a fresh Configuration's default resources, ~10 ms of driver
    // CPU on every commit-row read
    val reader: ParquetReader[Group] = new ParquetReader.Builder[Group](
        HadoopInputFile.fromPath(file, conf), new HadoopParquetConfiguration(conf)) {
      override def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
    }.build()
    try {
      val g = reader.read()
      if (g == null) None
      else {
        val schema = g.getType
        val n = schema.getFieldCount
        val values = new Array[Any](n)
        val fields = new Array[StructField](n)
        var ok = true
        var i = 0
        while (ok && i < n) {
          val f = schema.getType(i)
          if (!f.isPrimitive) ok = false // nested: not a stats shape
          else {
            val prim = f.asPrimitiveType()
            val ptn = prim.getPrimitiveTypeName
            val ann = prim.getLogicalTypeAnnotation
            val isString = ptn == PrimitiveTypeName.BINARY &&
              ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            // annotated non-string primitives (dates, decimals, …) are
            // not the stores' stats shape — bail to the Spark reader
            val dt: Option[DataType] = ptn match {
              case PrimitiveTypeName.INT64 if ann == null => Some(LongType)
              case PrimitiveTypeName.INT32 if ann == null => Some(IntegerType)
              case PrimitiveTypeName.DOUBLE if ann == null => Some(DoubleType)
              case PrimitiveTypeName.FLOAT if ann == null => Some(FloatType)
              case PrimitiveTypeName.BOOLEAN if ann == null => Some(BooleanType)
              case PrimitiveTypeName.BINARY if isString => Some(StringType)
              case _ => None
            }
            dt match {
              case None => ok = false
              case Some(t) =>
                fields(i) = StructField(f.getName, t, nullable = true)
                values(i) =
                  if (g.getFieldRepetitionCount(i) == 0) null
                  else ptn match {
                    case PrimitiveTypeName.INT64 => g.getLong(i, 0)
                    case PrimitiveTypeName.INT32 => g.getInteger(i, 0)
                    case PrimitiveTypeName.DOUBLE => g.getDouble(i, 0)
                    case PrimitiveTypeName.FLOAT => g.getFloat(i, 0)
                    case PrimitiveTypeName.BOOLEAN => g.getBoolean(i, 0)
                    case PrimitiveTypeName.BINARY => g.getString(i, 0)
                    case _ => null // unreachable under dt match above
                  }
            }
          }
          i += 1
        }
        if (ok) Some(new GenericRowWithSchema(values, StructType(fields)))
        else None
      }
    } finally reader.close()
  }
}
