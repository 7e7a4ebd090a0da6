package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.concurrent.TrieMap

/**
 * Table catalog: per-table schema metadata driving the typed projection of parsed redo
 * payloads (reference A13/A16, OracleSourceConnectorUtils2.java:156-252 dictionary load and
 * :436-465 `reSetValue` re-typing).
 *
 * Schemas are inferred lazily from parquet footers (our dictionary analogue of the
 * `dba_tab_cols` query, OracleConnectorSQL2.java:13) and cached; a DDL event evicts the
 * entry so the next DML reloads (A14, Utils:368-371). The cache is driver-side; the
 * resulting cast projection is a plain `Column` list that ships with the plan, so executors
 * never consult the catalog — the 100 TB-safe pattern (broadcast-by-plan, no per-row lookup).
 */
object Catalog {

  private val cache = TrieMap.empty[String, StructType]

  /**
   * Primary-key columns of the testdata lake's tables — the dictionary content a real
   * deployment loads via the B3 query (`SQL:13` CTE `dcc`); here the key knowledge is
   * declared since parquet footers carry no constraint metadata. The QUERY path exists
   * too and is wired end to end: [[pkUqDictionary]] →
   * [[withKeyMetadataFromDictionary]] → keys drive the merge (`cdc_apply_merge_dict`).
   */
  val testdataPks: Map[String, Seq[String]] = Map(
    "region"     -> Seq("r_regionkey"),
    "nation"     -> Seq("n_nationkey"),
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey"),
    "lineitem"   -> Seq("l_orderkey", "l_linenumber"),
    "events"     -> Seq("event_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /**
   * SURVEY §1.2: PK / unique-index membership carried as `StructField.metadata`
   * `{"pk":true,"uq":true}` — the Spark shape of the reference's per-column flags
   * (OracleConnectorSQL2.java:13 CTEs `dcc`/`duq`; models/Column.java:19-20). A MERGE /
   * upsert sink built off the envelope reads the key from here.
   */
  def withKeyMetadata(schema: StructType, pkCols: Set[String],
                      uqCols: Set[String] = Set.empty): StructType =
    StructType(schema.fields.map { f =>
      val b = new MetadataBuilder().withMetadata(f.metadata)
      if (pkCols.contains(f.name)) b.putBoolean("pk", true)
      if (uqCols.contains(f.name)) b.putBoolean("uq", true)
      f.copy(metadata = b.build())
    })

  /** Columns of a schema flagged pk (resp. uq) in their metadata. */
  def keyColumns(schema: StructType, flag: String = "pk"): Seq[String] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains(flag) && f.metadata.getBoolean(flag) => f.name
    }

  /** Key columns for MERGE/apply: the PK; for a PK-less table, the unique-index columns —
    * the reason the reference's dictionary query loads BOTH flag sets side by side
    * (SQL:13 CTEs dcc AND duq → models/Column.java:19-20): a replica of a PK-less table
    * is still keyable by any unique index. */
  def effectiveKeys(schema: StructType): Seq[String] = {
    val pk = keyColumns(schema, "pk")
    if (pk.nonEmpty) pk else keyColumns(schema, "uq")
  }

  /**
   * THE dictionary query (OracleConnectorSQL2.java:13, faithful dcc/duq shape): per-column
   * pk/uq flags from the five dictionary views — `dba_tab_cols` LEFT OUTER JOIN
   * (constraints ⋈ cons_columns, type='P') LEFT OUTER JOIN (ind_columns ⋈ indexes,
   * uniqueness='UNIQUE', GROUP BY dedup), NVL'd flags, HIDDEN/VIRTUAL filters, ORDER BY
   * (table_name, column_id). Single source of truth for both the `b3_dictionary_pkuq`
   * correctness query and the [[withKeyMetadataFromDictionary]] catalog load — the
   * reference's load-dictionary → flag-columns → use-keys chain (Utils:156-252 →
   * models/Column.java:19-20). Both join sides are per-table dictionary content (tiny) and
   * broadcast — at 100 TB the dictionary is always the broadcast side.
   */
  def pkUqDictionary(tabCols: DataFrame, constraints: DataFrame, consCols: DataFrame,
                     indCols: DataFrame, indexes: DataFrame): DataFrame = {
    val dcc = constraints.filter(col("constraint_type") === "P")
      .join(consCols, Seq("owner", "constraint_name", "table_name"))
      .select(col("owner"), col("table_name"), col("column_name"), lit(1).as("pk"))
    val duq = indCols
      .join(indexes, indCols("table_owner") === indexes("owner") &&
        indCols("index_name") === indexes("index_name"))
      .filter(col("uniqueness") === "UNIQUE")
      .groupBy(col("table_owner"), col("table_name"), col("column_name"))
      .agg(max(lit(1)).as("uq"))
      .withColumnRenamed("table_owner", "owner")
    tabCols.filter(col("hidden_column") === "NO" && col("virtual_column") === "NO")
      .join(broadcast(dcc), Seq("owner", "table_name", "column_name"), "left_outer")
      .join(broadcast(duq), Seq("owner", "table_name", "column_name"), "left_outer")
      // owner stays in the projection (the reference selects dc.owner and binds
      // $TABLE_OWNER$, SQL:13): same-named tables under different owners are distinct
      // dictionary entries, and a consumer that keyed on table_name alone would merge
      // their pk sets into a wrong composite key
      .select(col("owner"), col("table_name"), col("column_name"), col("column_id"),
        coalesce(col("pk"), lit(0)).as("pk_column"), coalesce(col("uq"), lit(0)).as("uq_column"))
      .orderBy(col("table_name"), col("column_id"))
  }

  /**
   * The dictionary→keys chain wired end to end, so an applier can key UPDATE/DELETE without
   * a hand-written schema: reduce a [[pkUqDictionary]] result to ONE table's key sets and
   * stamp them onto a schema. Dictionary column identifiers are the redo statement's
   * UPPERCASE names; schema fields are matched case-insensitively. The per-table dictionary
   * slice is collected on the driver — cardinality = the table's column count, the same
   * driver-side load the reference does (Utils:156-252) — and the flags ship with the plan
   * as metadata, so executors never consult the dictionary.
   */
  def withKeyMetadataFromDictionary(schema: StructType, dict: DataFrame,
                                    owner: String, table: String): StructType = {
    val up = (s: String) => s.toUpperCase(java.util.Locale.ROOT)
    // filter on the (owner, table) PAIR, as the reference binds $TABLE_OWNER$ AND
    // $TABLE_NAME$ (SQL:13) — matching table_name alone would union the pk sets of
    // same-named tables across owners into a wrong composite key
    val rows = dict.filter(upper(col("owner")) === up(owner) &&
        upper(col("table_name")) === up(table))
      .select(lower(col("column_name")).as("c"),
        col("pk_column").cast("int").as("pk"), col("uq_column").cast("int").as("uq"))
      .collect()
    val pk = rows.collect { case r if r.getInt(1) == 1 => r.getString(0) }.toSet
    val uq = rows.collect { case r if r.getInt(2) == 1 => r.getString(0) }.toSet
    val byLower = schema.fields.map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f.name).toMap
    withKeyMetadata(schema, pk.flatMap(byLower.get), uq.flatMap(byLower.get))
  }

  /** Load (and cache) a table's schema from its parquet footer, with pk metadata from the
    * key dictionary ([[testdataPks]]). */
  def schemaOf(spark: SparkSession, sfDir: String, table: String): StructType =
    cache.getOrElseUpdate(s"$sfDir/$table",
      withKeyMetadata(spark.read.parquet(s"$sfDir/$table.parquet").schema,
        testdataPks.getOrElse(table, Nil).toSet))

  /** A14: DDL for a table evicts its cached schema; next access reloads. */
  def invalidate(sfDir: String, table: String): Unit = cache.remove(s"$sfDir/$table")

  /** A14 — dictionary-backed schema load: same cache, keyed by (source, table), with the
    * dictionary query supplied by the caller; `load` runs ONLY on a miss, so a DDL-driven
    * [[invalidate]] is exactly what forces the next DML batch to see the post-DDL columns
    * (Utils:368-371 — the reference evicts its `tableColumnsMap` entry the same way). */
  def schemaOfDictionary(source: String, table: String)(load: => StructType): StructType =
    cache.getOrElseUpdate(s"$source/$table", load)

  /** Dictionary rows `(column_name, data_type, precision, scale)` → table schema through
    * the NUMBER ladder ([[oracleTypeToSpark]]) — the reference's dictionary-to-schema step
    * (Utils:156-252): field names are the lowercased dictionary identifiers, so
    * [[castProjection]]'s uppercase payload lookup round-trips. */
  def schemaFromTabCols(cols: Seq[(String, String, Int, Int)]): StructType =
    StructType(cols.map { case (n, t, p, sc) =>
      StructField(n.toLowerCase(java.util.Locale.ROOT), oracleTypeToSpark(t, p, sc))
    })

  /**
   * The Oracle NUMBER precision ladder (Utils:191-241): dictionary (type, precision, scale)
   * to Spark type. Mirrors the reference's choices including NUMBER-with-scale -> double
   * (lossy; the reference picks FLOAT64 deliberately, Utils:194-195). The
   * correct-by-construction alternative — `DecimalType(p, s)` end to end, exact
   * integer-scaled arithmetic with no float rounding anywhere — is demonstrated by the
   * `q1_pricing_decimal` query (engine/Relational.scala), the decimal-exact twin of
   * `q1_pricing`; a deployment that prefers exactness over reference parity maps
   * NUMBER(p,s>0) there instead of to DoubleType.
   */
  def oracleTypeToSpark(dataType: String, precision: Int, scale: Int): DataType =
    dataType.toUpperCase(java.util.Locale.ROOT) match {
      case "NUMBER" =>
        // reference condition verbatim (Utils:194): scale>0 OR precision==0 -> FLOAT64 —
        // an unconstrained NUMBER (precision 0, scale 0) can hold fractions, so double
        if (scale > 0 || precision == 0) DoubleType
        else if (precision <= 2) ByteType
        else if (precision <= 4) ShortType
        else if (precision <= 9) IntegerType
        else LongType
      case "CHAR" | "VARCHAR" | "VARCHAR2" | "NCHAR" | "NVARCHAR" | "NVARCHAR2" | "LONG" | "CLOB" =>
        StringType
      case t if t == "DATE" || t.startsWith("TIMESTAMP") => TimestampType
      case _ => StringType
    }

  /**
   * Catalog-driven typed projection (A16): pull each schema column out of a parsed
   * `map<string,string>` payload column (keys are the redo statement's UPPERCASE quoted
   * identifiers) and cast to the table type. Timestamp literals keep the reference's
   * timezone-suffix truncation at '+' (Utils:456).
   */
  def castProjection(payload: Column, schema: StructType): Seq[Column] =
    schema.fields.toSeq.map { f =>
      castValue(payload.getItem(f.name.toUpperCase(java.util.Locale.ROOT)), f.dataType).as(f.name)
    }

  /** One string payload value -> the table type (the per-field rule of [[castProjection]],
    * shared with [[EnvelopeApply]]). */
  def castValue(raw: Column, dt: DataType): Column = dt match {
    case TimestampType => to_timestamp(regexp_replace(raw, "\\+.*$", ""))
    case _             => raw.cast(dt)
  }
}
