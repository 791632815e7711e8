package graft.model

import org.apache.hadoop.fs.Path
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
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
  * included. Both sides refuse anything else loudly, and [[head]]
  * throws on an empty table — there is no second reader behind this
  * one. [[write]] commits the way the Hadoop committer does (data file
  * complete before `_SUCCESS`), so [[StoreSwap]] classifies a crashed
  * write exactly as a crashed job, and [[committed]] is the one read of
  * a swapped commit row, retrying a read that straddled a live swap.
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
    * staging name (hidden from every reader), renamed into place, then
    * `_SUCCESS` is dropped. A crash anywhere before the marker leaves a
    * torn dir: [[StoreSwap.commit]] discards it and
    * [[StoreSwap.committedPath]] never resolves it.
    */
  def write(spark: SparkSession, dir: String, schema: StructType,
      values: Any*): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.{MessageType, Types}
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

  /** The committed row of the one-row table that [[StoreSwap]] swaps at
    * `store`, resolved through a torn swap; None iff no version has
    * committed. The one read of a commit row (the serving pointer, the
    * [[LevelStore]] rows).
    *
    * Reads are lock-free OPTIMISTIC: the two-rename keeps a complete
    * committed row visible at every instant, but a read can straddle a
    * concurrent swap in two ways. [[StoreSwap.committedPath]]'s two
    * probes can both miss when a swap's step-3 rename and step-4
    * cleanup land between them (a false None), and the listed part-file
    * can vanish before it is opened (a `FileNotFoundException`). Renames
    * are atomic and the writer is single, so re-resolving always lands
    * on a complete row: both cases re-probe, with exponential backoff
    * (4/8/16/32/64 ms, ~124 ms worst case) so the bounded retry spans a
    * slow filesystem's swap window. A store where none of `store`,
    * `.old` and `.tmp` exists has never committed and reads None at
    * once.
    */
  def committed(spark: SparkSession, store: String): Option[Row] = {
    val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // `.old` first, `store` last: missing all three while a swap runs
    // takes a whole new tmp write between two exists() calls
    def virgin = Seq(StoreSwap.oldPath(store), StoreSwap.tmpPath(store), store)
      .forall(s => !fs.exists(new Path(s)))
    @annotation.tailrec
    def attempt(n: Int): Option[Row] = {
      val read =
        try Right(StoreSwap.committedPath(spark, store).map(head(spark, _)))
        catch { case e: java.io.FileNotFoundException if n < MaxRetries => Left(e) }
      read match {
        case Right(row) if row.isDefined || n == MaxRetries || virgin => row
        case _ => Thread.sleep(4L << n); attempt(n + 1)
      }
    }
    attempt(0)
  }

  private val MaxRetries = 5

  /** The first row of the one-row table at `dir` (the first data file by
    * name holding one). Throws when the table holds no row or has a
    * shape other than flat supported primitives; a `dir` or part-file
    * that vanished surfaces as the filesystem's own
    * `FileNotFoundException`.
    */
  def head(spark: SparkSession, dir: String): Row = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    // the path's OWN filesystem, not the default one: on s3a://, abfs://
    // etc. FileSystem.get(conf) throws Wrong-FS
    dataFiles(p.getFileSystem(conf), p).iterator
      .flatMap(f => withGroups(conf, f)(r => Option(r.read())))
      .nextOption()
      .map(toRow(_, dir))
      .getOrElse(throw new IllegalStateException(s"the one-row table at $dir holds no row"))
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

  /** `use` over a parquet-example Group reader of `file`, closed after.
    * Built from an InputFile: the Path builder first parses a fresh
    * Configuration's default resources, ~10 ms of driver CPU per read.
    */
  def withGroups[A](conf: org.apache.hadoop.conf.Configuration, file: Path)(
      use: ParquetReader[Group] => A): A = {
    val reader = new ParquetReader.Builder[Group](
        HadoopInputFile.fromPath(file, conf), new HadoopParquetConfiguration(conf)) {
      override def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
    }.build()
    try use(reader) finally reader.close()
  }

  /** `g` as a Row of flat supported primitives; throws on any other field. */
  private def toRow(g: Group, dir: String): Row = {
    val schema = g.getType
    val n = schema.getFieldCount
    val values = new Array[Any](n)
    val fields = new Array[StructField](n)
    for (i <- 0 until n) {
      val f = schema.getType(i)
      def unsupported = throw new IllegalStateException(
        s"the one-row table at $dir has field ${f.getName} of unsupported shape $f")
      if (!f.isPrimitive) unsupported
      val ptn = f.asPrimitiveType().getPrimitiveTypeName
      val ann = f.getLogicalTypeAnnotation
      val dt: DataType = ptn match {
        case PrimitiveTypeName.INT64 if ann == null => LongType
        case PrimitiveTypeName.INT32 if ann == null => IntegerType
        case PrimitiveTypeName.DOUBLE if ann == null => DoubleType
        case PrimitiveTypeName.FLOAT if ann == null => FloatType
        case PrimitiveTypeName.BOOLEAN if ann == null => BooleanType
        case PrimitiveTypeName.BINARY
            if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] => StringType
        case _ => unsupported
      }
      fields(i) = StructField(f.getName, dt, nullable = true)
      values(i) =
        if (g.getFieldRepetitionCount(i) == 0) null
        else dt match {
          case LongType => g.getLong(i, 0)
          case IntegerType => g.getInteger(i, 0)
          case DoubleType => g.getDouble(i, 0)
          case FloatType => g.getFloat(i, 0)
          case BooleanType => g.getBoolean(i, 0)
          case _ => g.getString(i, 0)
        }
    }
    new GenericRowWithSchema(values, StructType(fields))
  }
}
