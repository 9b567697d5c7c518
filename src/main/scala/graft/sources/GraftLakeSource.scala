package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format("graftlake").load(dir)` — the versioned-pointer
  * lake ([[StormSinks.writeVersioned]]) as a first-class named source,
  * so 24/7 readers (notebooks, SQL gateways, downstream jobs that only
  * know the DataFrameReader API) don't need the helper object. The
  * API-completeness counterpart of the reference's adapter seam
  * (/root/reference/internal/adapter isolates transport from domain).
  *
  * Design: the provider resolves `_current` ONCE per read (at table
  * creation) and then delegates wholesale to Spark's own parquet
  * DSv2 table over the immutable `v-N` dir. Delegation, not a
  * hand-rolled reader, is the point: the query gets vectorized
  * parquet scans, filter pushdown, column pruning, partition
  * discovery/pruning over the (event_type, event_date) layout — at
  * 100 TB a bespoke row reader would forfeit all of that. Because the
  * resolved dir is immutable, a concurrent [[StormSinks.writeVersioned]]
  * or [[StormSinks.compactVersioned]] publish never changes the files
  * under a running query — readers see the old or the new version,
  * never a gap (GraftLakeSpec races them).
  *
  * Options: `path` (the lake root containing `_current`), optionally
  * `version` (`"3"` or `"v-3"`) for time travel onto any retained
  * immutable version — the read side of
  * [[StormSinks.vacuumVersions]]'s retention window — and optionally
  * `table` (a [[StormSinks.writeVersionedGroup]] group-table name):
  * with `table`, the provider resolves the version's SEGMENT list
  * (manifest-aware, so delta-segment state lakes read through the
  * same named source; a legacy whole-table version resolves to its
  * one subdir) and delegates the multi-path scan. The raw segment
  * union is what a scan can give — an upsert-keyed table's
  * latest-wins collapse is a query-level groupBy, so keyed tables go
  * through [[StormSinks.readGroupTableKeyedAt]] instead.
  *
  * Writes go through [[StormSinks.writeVersioned]] (publishing is a
  * pointer protocol, not a file append — a DSv2 write would bypass
  * it).
  */
class GraftLakeSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graftlake"

  // schema comes from the resolved version dir, not the caller
  override def supportsExternalMetadata(): Boolean = false

  private def lakeDir(options: CaseInsensitiveStringMap): String = {
    val paths = Seq(Option(options.get("path")), Option(options.get("paths"))).flatten
    require(paths.size == 1,
      s"graftlake needs exactly one path (the lake root with _current), got $paths")
    paths.head
  }

  private def delegate(options: CaseInsensitiveStringMap): ParquetTable = {
    val spark = SparkSession.active
    val dir = lakeDir(options)
    val verName = Option(options.get("version")) match {
      case Some(v) =>
        val n = v.stripPrefix("v-")
        require(n.matches("[0-9]+"), s"version must be N or v-N, got '$v'")
        s"v-$n" // time travel: any retained version
      case None => StormSinks.currentVersionName(spark, dir)
    }
    val paths = Option(options.get("table")) match {
      case Some(t) =>
        // group table: the version's ordered segment list (manifest-
        // aware; one subdir for a legacy whole-table version)
        val segs = StormSinks.segmentsAt(spark, dir, verName, t)
        require(segs.nonEmpty, s"graftlake: group table '$t' not present in $dir/$verName")
        segs
      case None =>
        // a group lake that has committed a delta version holds only a
        // _segments manifest at the version dir — a bare-path read
        // would die in parquet schema inference with an opaque error,
        // so diagnose it here and name the fix
        if (StormSinks.isSegmented(spark, dir, verName))
          throw new IllegalArgumentException(
            s"graftlake: $dir/$verName is a segmented GROUP version (it " +
              "carries a _segments manifest, not parquet data); pass " +
              """option("table", <name>) to read one of its tables — """ +
              s"available: ${StormSinks.groupTablesAt(spark, dir, verName).mkString(", ")}")
        Seq(s"$dir/$verName")
    }
    // a segmented table's schema can EVOLVE across segments: without
    // mergeSchema the delegate infers from one arbitrary footer and a
    // newer column can silently vanish (listing-order-dependent) —
    // default it on for multi-path group reads; an explicit caller
    // option still wins
    val opts =
      if (Option(options.get("table")).isEmpty || options.containsKey("mergeSchema"))
        options
      else {
        val m = new java.util.HashMap[String, String](options)
        m.put("mergeSchema", "true")
        new CaseInsensitiveStringMap(m)
      }
    ParquetTable(s"graftlake $dir ($verName${Option(options.get("table")).fold("")("/" + _)})",
      spark, opts, paths, None, classOf[ParquetFileFormat])
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    delegate(options).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    delegate(new CaseInsensitiveStringMap(properties))
}
