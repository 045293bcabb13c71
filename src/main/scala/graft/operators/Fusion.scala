package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.{SchemaAlign, Tables}

/** The fusion-ETL operator family: the reference's table-level ETL verbs
  * (/root/reference/etl_ecollision_fusion_table_collisions.py,
  * create_view_vw_valid_collision_from_analytics_not_in_oracle.sql)
  * re-expressed as distributed, single-shuffle Spark plans.
  *
  * Scale notes: the reference filters by materializing the valid-id list
  * into driver memory and issuing `isin` (etl_…collisions.py:78-81) —
  * here every membership test is a LEFT SEMI / LEFT ANTI join so the id
  * set never leaves the executors; every "latest version wins" dedup is
  * one window over the key, not a delete-then-insert round trip.
  */
object Fusion {

  /** case_year = year(coalesce(occurrence, reported)) — the derived-date
    * rule of etl_…collisions.py:23-30. The occurrence timestamp is
    * nullable (open orders have not "occurred"); reported is the fallback.
    */
  def caseYear(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    o.withColumn("occurrence_ts",
        when(col("o_orderstatus") === "O", lit(null).cast("timestamp"))
          .otherwise(col("o_orderdate")))
      .select(col("o_orderkey"),
        year(coalesce(col("occurrence_ts"), col("o_orderdate"))).cast("long").as("case_year"))
      .orderBy(col("o_orderkey"))
  }

  /** CASE-flag derivation (create_view…oracle.sql:123-127): tag rows
    * whose status is in the whitelist — pure map-side, no shuffle.
    */
  def caseFlag(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    e.select(col("event_id"), col("user_id"), col("event_type"),
        when(col("event_type").isin("purchase", "signup"), 1L).otherwise(0L)
          .as("valid_flag"))
      .orderBy(col("event_id"))
  }

  /** Rename + date-string + lineage literal (etl_…collisions.py:90-97:
    * fatal_comment→fatal_comments, strftime('%Y-%m-%d'), SOURCE col),
    * driven by a declarative `ColumnMapping` — the reference's mapping
    * spreadsheet as data (supplementary/column_mapping_btw_analytics_
    * and_oracle_tables.xlsx) instead of a hardcoded one-off select.
    */
  val orderMapping: graft.sources.ColumnMapping = graft.sources.ColumnMapping(
    renames = Map("o_totalprice" -> "total_price"),
    derives = Seq(
      "order_datestring" -> date_format(col("o_orderdate"), "yyyy-MM-dd"),
      "source" -> lit("eCollision Oracle")))

  def renameDerive(spark: SparkSession, dir: String): DataFrame =
    orderMapping(Tables.load(spark, dir, "orders"))
      .select(col("o_orderkey"), col("total_price"),
        col("order_datestring"), col("source"))
      .orderBy(col("o_orderkey"))

  /** Keep rows whose key is in a filter set: LEFT SEMI join, the
    * distributed replacement for the reference's collect()+isin
    * (etl_…collisions.py:78-81). The filter side is aggregated to keys
    * only before the join, so it broadcasts when small.
    */
  def semiJoinFilter(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Rows in A with no match in B: LEFT ANTI join (the "analytics not in
    * oracle" view, create_view…analytics_not_in_oracle.sql — its
    * negative-id NOT IN becomes null-safe anti-join semantics).
    */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Fuse two lineages into one frame: schema-aligned union-by-name with
    * per-lineage `source` tags (create_empty_tables_for_ecollision_
    * fusion.py:31-44's SOURCE column + the two ingestion flows). The
    * lineages here carry different column subsets; unionByName null-fills.
    */
  def unionSources(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val a = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"),
        lit("eCollision Oracle").as("source"))
    val b = o.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
        lit("eCollision Analytics").as("source"))
    SchemaAlign.unionLineages(a, b)
      .orderBy(col("o_orderkey"))
  }

  /** PK-keyed dedup keeping the latest version per key — the reference's
    * delete-then-insert upsert loop (reference.py PK map +
    * etl_…collisions.py:124-135) as one descending window. Deterministic
    * tie-break on event_id.
    */
  def dedupLatestPerKey(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    e.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), col("value").as("last_value"))
      .orderBy(col("user_id"))
  }

  /** The complete fusion ETL, end to end — the one-call equivalent of
    * the reference's main flow (etl_ecollision_fusion_table_collisions
    * .py:55-135): compute the valid-entity set, semi-join the entity
    * table down to it, derive case_year / date-string / renamed
    * columns, tag the lineage, project onto the target schema, and
    * overwrite the sink. Everything stays distributed; the valid-id
    * set never reaches the driver.
    */
  val fusionTargetSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("case_year",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("total_price",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("order_datestring",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType)))

  /** The transform half of the flow above (validity chain → LEFT SEMI →
    * derive → project), UNSORTED — the sink write path must not pay a
    * global sort. The `q_fusion_etl` oracle surface adds its
    * deterministic orderBy in SparkEntry.
    */
  def fusionEtl(spark: SparkSession, dir: String): DataFrame = {
    val valid = graft.operators.Validity.validUsersFromDir(spark, dir)
      .select(col("user_id"))
    val o = Tables.load(spark, dir, "orders")
    val filtered = o.join(valid, o("o_custkey") === valid("user_id"), "left_semi")
    val derived = filtered.select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("case_year"),
      col("o_totalprice").as("total_price"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_datestring"),
      lit("eCollision Oracle").as("source"))
    SchemaAlign.project(derived, fusionTargetSchema)
  }

  def runFusionEtl(spark: SparkSession, dir: String, outPath: String): Long = {
    graft.sources.Sink.overwrite(fusionEtl(spark, dir), outPath)
    Tables.read(spark, outPath).count()
  }

  /** MERGE INTO semantics (`q_merge`): apply a keyed change feed to a
    * base table — matched+delete-flag rows drop, matched rows take the
    * feed's values, unmatched feed rows insert. The reference only
    * knows whole-table delete-then-insert (etl_ecollision_fusion_table_
    * collisions.py:124-135); this is the surgical replacement.
    *
    * Scale shape: the base is NEVER shuffled — one broadcast LEFT join
    * decides update/delete per base row, one broadcast LEFT ANTI finds
    * the inserts, union. A change feed is small next to a 100 TB base;
    * pairing this with `Sink.overwritePartitionsDynamic` rewrites only
    * the partitions the feed touches.
    *
    * Both tables derive deterministically from `orders`: the feed
    * updates key%7==0 (price+100), deletes key%11==0, and inserts a
    * shifted copy of key%13==0 under key+1000000.
    */
  def mergeChanges(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val base = o
    val feed = o.filter(col("o_orderkey") % 7 === 0 || col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey").as("k"),
        (col("o_totalprice") + 100.0).as("new_price"),
        (col("o_orderkey") % 11 === 0).as("is_delete"))
      .unionByName(
        o.filter(col("o_orderkey") % 13 === 0)
          .select((col("o_orderkey") + 1000000L).as("k"),
            col("o_totalprice").as("new_price"),
            lit(false).as("is_delete")))
    val kept = base.join(broadcast(feed), base("o_orderkey") === feed("k"), "left")
      .filter(col("is_delete").isNull || !col("is_delete"))
      .select(col("o_orderkey"),
        round(coalesce(col("new_price"), col("o_totalprice")), 2).as("price"),
        col("o_orderstatus").as("status"),
        when(col("k").isNotNull, "update").otherwise("keep").as("action"))
    // Feed keys already present in the base: a broadcast INNER join —
    // the base is scanned, never shuffled, and the output is at most
    // |feed| rows, so the subsequent anti-join is small-vs-small.
    val matchedKeys = base.select(col("o_orderkey"))
      .join(broadcast(feed.select(col("k"))), col("o_orderkey") === col("k"))
      .select(col("k"))
    val inserts = feed.filter(!col("is_delete"))
      .join(broadcast(matchedKeys), Seq("k"), "left_anti")
      .select(col("k").as("o_orderkey"), round(col("new_price"), 2).as("price"),
        lit(null).cast("string").as("status"), lit("insert").as("action"))
    kept.unionByName(inserts).orderBy(col("o_orderkey"))
  }

  /** Deterministic bounded sample per group — the reference's
    * `sample_size=888` bounded ingest (ingest_ecollision_oracle_data
    * .py:96) generalized to stratified: rank by key inside each group,
    * keep the first n. Rank-bounded (not `.limit` on an unordered scan)
    * so the same rows come back on every run and every cluster layout.
    */
  def samplePerGroup(spark: SparkSession, dir: String, n: Int = 3): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
    o.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= n)
      .select(col("o_orderpriority"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  /** Blocked fuzzy entity resolution (`q_fuzzy_join`): near-duplicate
    * NAME pairs via the blocking-key pattern — dedupe to DISTINCT
    * names first (the join runs on the name DOMAIN, orders of
    * magnitude below row count), equi-join on a blocking key (the head
    * noun) so only plausible pairs ever meet, then exact integral
    * `levenshtein` within the block. At 100 TB the blocking key is the
    * partition key; a block never crosses executors. The canonical
    *-ized pair order (a < b) keeps the output set deterministic.
    */
  def fuzzyNameJoin(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame = {
    val names = Tables.load(spark, dir, "part").select(col("p_name")).distinct()
      .withColumn("blk", split(col("p_name"), " ").getItem(1))
    names.as("a").join(names.as("b"),
        col("a.blk") === col("b.blk") && col("a.p_name") < col("b.p_name"))
      .withColumn("dist", levenshtein(col("a.p_name"), col("b.p_name")))
      .filter(col("dist") <= maxDist)
      .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
        col("dist").cast("long").as("dist"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** End-to-end entity resolution (`q_entity_resolution`): the fuzzy
    * pair graph from `fuzzyNameJoin` collapsed to canonical entities —
    * `Dedup.minLabels` over the name graph (the dedup_clusters
    * propagation on strings), every name mapped to its cluster's
    * lexicographic min as the survivor, plus the cluster size. This is
    * the master-data step the reference's two-lineage fusion implies
    * but does by exact key only; oracle = DuckDB recursive-CTE
    * transitive closure over the same pairs.
    */
  def entityResolution(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.load(spark, dir, "part").select(col("p_name")).distinct()
    val pairs = fuzzyNameJoin(spark, dir).select(col("name_a"), col("name_b"))
    val labels = Dedup.minLabels(pairs.toDF("src", "dst"))
      .withColumnRenamed("node", "p_name")
    val resolved = names
      .join(labels, Seq("p_name"), "left")
      .select(col("p_name").as("name"),
        coalesce(col("lbl"), col("p_name")).as("canonical"))
    val sizes = resolved.groupBy(col("canonical"))
      .agg(count(lit(1)).as("cluster_size"))
    resolved.join(sizes, Seq("canonical"))
      .select(col("name"), col("canonical"), col("cluster_size"))
      .orderBy(col("name"))
  }
}
