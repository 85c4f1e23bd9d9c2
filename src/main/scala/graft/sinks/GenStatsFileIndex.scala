package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A [[FileIndex]] over committed generation directories that consults
  * the per-generation `_cstats` manifests ([[DataSkipping]]) against
  * the query's OWN data filters at plan time — the Delta/Iceberg
  * data-skipping shape, wired into the versioned store's DEFAULT read
  * path: `VersionedStore.read(...).filter(range)` now drops whole
  * generations before a footer or data page is touched, with no
  * special API ([[VersionedStore.readPruned]] remains the explicit
  * form and the MOR-chain surface). Spark hands `dataFilters` to
  * `listFiles` exactly so an index can prune from its own metadata —
  * this is the same seam Delta's TahoeFileIndex uses.
  *
  * Conservatism is [[DataSkipping]]'s contract: a generation without a
  * manifest, a column without stats, an untranslatable or unsupported
  * predicate — all read. Spark still evaluates every filter row-wise
  * on top, so the index can only skip provably-empty generations,
  * never change a result. */
private[graft] final class GenStatsFileIndex(
    fs: FileSystem, gens: Seq[VersionedStore.Gen], schema: StructType)
    extends FileIndex {

  // the part files come from the generation resolver's own listing:
  // the index lists nothing
  private val perGen: Seq[(Path, Seq[FileStatus])] =
    gens.map(g => (new Path(g.dir), g.files))

  override def rootPaths: Seq[Path] = perGen.map(_._1)
  override def partitionSchema: StructType = StructType(Nil)
  override def refresh(): Unit = ()
  override lazy val sizeInBytes: Long = perGen.flatMap(_._2).map(_.getLen).sum
  override def inputFiles: Array[String] =
    perGen.flatMap(_._2.map(_.getPath.toString)).toArray

  /** Catalyst comparison → V1 source filter, for exactly the shapes
    * [[DataSkipping.survives]] evaluates (attribute vs literal, both
    * orders, plus IN over literals). Literal values convert from the
    * INTERNAL representation (UTF8String, day ints, micro longs) to
    * the external one [[DataSkipping.renderBound]] types against.
    * Anything else returns None — untranslatable means unprunable,
    * never wrong. */
  private def translate(e: Expression)
      : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.{sources => s}
    def ext(l: Literal): Any = org.apache.spark.sql.catalyst
      .CatalystTypeConverters.convertToScala(l.value, l.dataType)
    e match {
      case EqualTo(a: Attribute, l: Literal) => Some(s.EqualTo(a.name, ext(l)))
      case EqualTo(l: Literal, a: Attribute) => Some(s.EqualTo(a.name, ext(l)))
      case GreaterThan(a: Attribute, l: Literal) =>
        Some(s.GreaterThan(a.name, ext(l)))
      case GreaterThan(l: Literal, a: Attribute) =>
        Some(s.LessThan(a.name, ext(l)))
      case GreaterThanOrEqual(a: Attribute, l: Literal) =>
        Some(s.GreaterThanOrEqual(a.name, ext(l)))
      case GreaterThanOrEqual(l: Literal, a: Attribute) =>
        Some(s.LessThanOrEqual(a.name, ext(l)))
      case LessThan(a: Attribute, l: Literal) =>
        Some(s.LessThan(a.name, ext(l)))
      case LessThan(l: Literal, a: Attribute) =>
        Some(s.GreaterThan(a.name, ext(l)))
      case LessThanOrEqual(a: Attribute, l: Literal) =>
        Some(s.LessThanOrEqual(a.name, ext(l)))
      case LessThanOrEqual(l: Literal, a: Attribute) =>
        Some(s.GreaterThanOrEqual(a.name, ext(l)))
      case In(a: Attribute, vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        Some(s.In(a.name,
          vs.map(v => ext(v.asInstanceOf[Literal])).toArray))
      case InSet(a: Attribute, vs) if vs.nonEmpty =>
        Some(s.In(a.name, vs.map(v => org.apache.spark.sql.catalyst
          .CatalystTypeConverters
          .convertToScala(v, a.dataType)).toArray))
      case _ => None
    }
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val translated = dataFilters.flatMap(translate)
      .filter(f => DataSkipping.filterColumn(f).exists(c =>
        schema.fieldNames.contains(c) &&
          DataSkipping.supportedType(schema(c).dataType)))
    val kept =
      if (translated.isEmpty) perGen
      else VersionedStore.parallelMap(perGen) { case (dir, files) =>
        val keep = DataSkipping.read(fs, dir) match {
          case None => true // statless generation: read conservatively
          case Some(m) => translated.forall { f =>
            val c = DataSkipping.filterColumn(f).get
            m.get(c).forall(cs =>
              DataSkipping.survives(schema(c).dataType, cs, f))
          }
        }
        if (keep) Some((dir, files)) else None
      }.flatten
    Seq(PartitionDirectory(InternalRow.empty, kept.flatMap(_._2).toArray))
  }
}

private[graft] object GenStatsFileIndex {
  /** A read of resolved generations (non-empty): one V1 parquet
    * relation whose file listing is this index — filter pushdown,
    * vectorized reading, row-group stats, key blooms and
    * `input_file_name()` all behave exactly as `spark.read.parquet`,
    * plus the generation-level skip. Columns of `schema` a file lacks
    * read as null. */
  def read(spark: SparkSession, gens: Seq[VersionedStore.Gen],
           schema: StructType): DataFrame = {
    val (fs, _) = Sinks.fsOf(gens.head.dir)
    val index = new GenStatsFileIndex(fs, gens, schema)
    val relation = HadoopFsRelation(index, partitionSchema = StructType(Nil),
      dataSchema = schema, bucketSpec = None, new ParquetFileFormat,
      options = Map.empty)(spark)
    spark.baseRelationToDataFrame(relation)
  }
}
