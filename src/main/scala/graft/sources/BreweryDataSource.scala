package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.Ingest

/** DataSource V2 `TableProvider` for the paginated brewery REST API —
  * the fully-distributed ingestion path (SURVEY.md §2 row 2: "at scale:
  * a custom DataSource V2 TableProvider"). One `InputPartition` per page
  * range, so a 1000-executor cluster fans the HTTP fetches out instead
  * of funneling them through the driver NIC; the driver only runs the
  * meta probe that sizes the page count.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.BreweryDataSource")
  *     .option("fetcherClass", "graft.pipeline.SampleFetcher") // no-arg ctor
  *     .option("perPage", "200")
  *     .option("pagesPerPartition", "4")
  *     .load()
  * }}}
  *
  * `fetcherClass` names an [[Ingest.Fetcher]] with a no-arg constructor
  * (an HTTP implementation in production; the offline sample in tests —
  * injected by class name because DSv2 options are strings).
  */
class BreweryDataSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Ingest.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new BreweryTable(schema)
}

private[sources] class BreweryTable(tableSchema: StructType)
    extends Table with SupportsRead {

  override def name(): String = "brewery_api"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BreweryScanBuilder(tableSchema, options)
}

private[sources] class BreweryScanBuilder(schema: StructType,
                                          options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var requiredSchema: StructType = schema

  // column pruning pushes into the scan: unprojected fields are never
  // materialized into rows (at scale: don't ship 16 strings for a
  // 2-column query)
  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  override def build(): Scan = new BreweryScan(
    requiredSchema,
    options.get("fetcherClass"),
    Option(options.get("perPage")).map(_.toInt).getOrElse(Ingest.PerPage),
    Option(options.get("pagesPerPartition")).map(_.toInt).getOrElse(1))
}

private[sources] case class PageRange(first: Int, last: Int) extends InputPartition

private[sources] class BreweryScan(tableSchema: StructType, fetcherClass: String,
                                   perPage: Int, pagesPerPartition: Int)
    extends Scan with Batch {

  require(fetcherClass != null, "option fetcherClass is required")

  override def readSchema(): StructType = tableSchema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    // driver-side meta probe sizes the scan (SURVEY.md §2 row 1)
    val total = BreweryScan.newFetcher(fetcherClass).total()
    val pages = Ingest.pageCount(total, perPage)
    (1 to pages by pagesPerPartition)
      .map(first => PageRange(first, math.min(first + pagesPerPartition - 1, pages)))
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BreweryReaderFactory(fetcherClass, perPage, tableSchema.fieldNames)
}

private[sources] object BreweryScan {
  def newFetcher(className: String): Ingest.Fetcher =
    Class.forName(className).getDeclaredConstructor()
      .newInstance().asInstanceOf[Ingest.Fetcher]
}

private[sources] class BreweryReaderFactory(fetcherClass: String, perPage: Int,
                                            fields: Array[String])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val range = partition.asInstanceOf[PageRange]
    new PartitionReader[InternalRow] {
      private val rows = Ingest.pageRows(BreweryScan.newFetcher(fetcherClass),
        (range.first to range.last).iterator, perPage, fields.toSeq)
      override def next(): Boolean = rows.hasNext
      override def get(): InternalRow =
        new GenericInternalRow(rows.next().map(UTF8String.fromString).toArray[Any])
      override def close(): Unit = ()
    }
  }
}
