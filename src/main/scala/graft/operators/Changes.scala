package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The mutation-plane tail — transactional change batches as data
 * (src/diagonal.works/b6/api/functions/change.go):
 *  - add-relation (:95-124): a relation feature + its ordered members;
 *  - add-collection (:127-158): a collection feature + its (key, value) items;
 *  - add-expression (:161-180): a feature whose reserved `expression` tag
 *    names a stored plan (b6/world.go:747-753 reserved keys; Scala/Spark plans
 *    stand in for the VM expression language per SURVEY §1.6);
 *  - merge-changes (:186-199): concatenation, applied all-or-nothing;
 *  - changes-to/from-file (:224-255): the changelog persisted as JSON lines
 *    (the reference uses YAML; JSON is the Spark-native equivalent with
 *    schema-checked read-back).
 *
 * A ChangeSet is edit-scale data (the reference's changelogs are user edits),
 * applied to world-scale DataFrames by `apply` — new rows union in, tag edits
 * become an overlay with last-writer-wins. Transactionality comes from
 * committing the applied result through Snapshots.commit (the canary-overlay
 * protocol, ingest/change.go:158-184): a crash before the manifest rename
 * leaves the previous world intact.
 */
object Changes {

  case class FeatureAdd(ftype: String, ns: String, value: Long,
                        tags: Map[String, String], lat: Double, lng: Double)
  case class MemberAdd(relNs: String, relValue: Long, pos: Int,
                       toType: String, toId: Long, role: String)
  case class ItemAdd(ns: String, value: Long, pos: Int, key: String, item: String)
  case class TagEdit(ftype: String, ns: String, value: Long,
                     key: String, newValue: Option[String])

  case class ChangeSet(adds: Seq[FeatureAdd] = Nil, members: Seq[MemberAdd] = Nil,
                       items: Seq[ItemAdd] = Nil, tagEdits: Seq[TagEdit] = Nil) {
    def ++(other: ChangeSet): ChangeSet = ChangeSet(
      adds ++ other.adds, members ++ other.members,
      items ++ other.items, tagEdits ++ other.tagEdits)
  }

  /** add-relation (change.go:95-124). */
  def addRelation(ns: String, id: Long, tags: Map[String, String],
                  members: Seq[(String, Long, String)] /* (type, id, role) */): ChangeSet =
    ChangeSet(
      adds = Seq(FeatureAdd("relation", ns, id, tags, 0.0, 0.0)),
      members = members.zipWithIndex.map { case ((t, m, role), pos) =>
        MemberAdd(ns, id, pos, t, m, role)
      })

  /** add-collection (change.go:127-158). */
  def addCollection(ns: String, id: Long, tags: Map[String, String],
                    items: Seq[(String, String)]): ChangeSet =
    ChangeSet(
      adds = Seq(FeatureAdd("collection", ns, id, tags, 0.0, 0.0)),
      items = items.zipWithIndex.map { case ((k, v), pos) => ItemAdd(ns, id, pos, k, v) })

  /** add-expression (change.go:161-180): the reserved `expression` tag holds
    * the stored plan's name (≙ b6 ExpressionTag). */
  def addExpression(ns: String, id: Long, tags: Map[String, String],
                    expressionName: String): ChangeSet =
    ChangeSet(adds = Seq(FeatureAdd(
      "expression", ns, id, tags + ("expression" -> expressionName), 0.0, 0.0)))

  /** add-tag / remove-tag as change data (change.go:20-67). */
  def tagChange(ftype: String, ns: String, value: Long, key: String,
                newValue: Option[String]): ChangeSet =
    ChangeSet(tagEdits = Seq(TagEdit(ftype, ns, value, key, newValue)))

  /** merge-changes (change.go:186-199). */
  def merge(changes: Seq[ChangeSet]): ChangeSet =
    changes.foldLeft(ChangeSet())(_ ++ _)

  /**
   * Apply a change to a (features, references) world view: added features
   * union in (point geometry for located adds), members append to the
   * reference table, tag edits overlay with last-writer-wins. Collection
   * items are returned as the third table (list-feature reads them).
   * The world is unmodified — callers commit the result (with-change
   * semantics, change.go:203-211).
   */
  def apply(spark: SparkSession, world: DataFrame, refs: DataFrame,
            change: ChangeSet): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    graft.functions.CellExprs.install(spark)
    val wkbPoint = udf((lat: Double, lng: Double) =>
      graft.core.GeoOps.toWkb(graft.core.GeoOps.point(lat, lng)))
    val addedRows = change.adds.toDF()
      .select(struct(col("ftype"), col("ns"), col("value")).as("id"),
        col("tags"), col("lat"), col("lng"), wkbPoint(col("lat"), col("lng")).as("geom"))
      .withColumn("cell16", graft.functions.CellExprs.cell_of(col("lat"), col("lng"), lit(16)))
      .withColumn("covering",
        graft.functions.CellExprs.cell_covering(col("geom"), lit(16), lit(5)))
    // an add replaces the world's feature of the same id (b6's overlay
    // AddFeatures), so a feature re-added with new tags has one row
    val readded = change.adds.groupBy(a => (a.ftype, a.ns)).map { case ((t, ns), as) =>
      col("id.ftype") === t && col("id.ns") === ns && col("id.value").isin(as.map(_.value): _*)
    }.reduceOption(_ || _)
    val withAdds = readded.fold(world)(r => world.where(!coalesce(r, lit(false))))
      .unionByName(addedRows, allowMissingColumns = true)

    val edited = if (change.tagEdits.isEmpty) withAdds else {
      val edits = change.tagEdits
        .map(e => (e.ftype, e.ns, e.value, e.key, e.newValue.orNull))
        .toDF("e_ftype", "e_ns", "e_value", "e_key", "e_new")
        .groupBy("e_ftype", "e_ns", "e_value")
        .agg(collect_list(struct(col("e_key"), col("e_new"))).as("edits"))
      withAdds.join(edits,
          col("id.ftype") === col("e_ftype") && col("id.ns") === col("e_ns") &&
            col("id.value") === col("e_value"), "left")
        .withColumn("tags", when(col("edits").isNull, col("tags")).otherwise(
          // remove edited keys, then add back the non-null new values
          map_concat(
            map_filter(col("tags"), (k, _) =>
              !exists(col("edits"), e => e.getField("e_key") === k)),
            map_from_entries(filter(col("edits"), e => e.getField("e_new").isNotNull)))))
        .drop("e_ftype", "e_ns", "e_value", "edits")
    }

    val newRefs = change.members
      .map(m => ("relation", m.relValue, m.toType, m.toId, m.role, m.pos))
      .toDF("from_type", "from_id", "to_type", "to_id", "role", "pos")
    val mergedRefs = refs.unionByName(newRefs, allowMissingColumns = true)

    val items = change.items.toDF()
    (edited, mergedRefs, items)
  }

  /** changes-to-file (change.go:224-236): persist the changelog as JSON lines
    * under `path` (one subdirectory per change table). */
  def toFile(spark: SparkSession, change: ChangeSet, path: String): Unit = {
    import spark.implicits._
    change.adds.toDF().withColumn("tags", to_json(col("tags")))
      .write.mode("overwrite").json(s"$path/adds")
    change.members.toDF().write.mode("overwrite").json(s"$path/members")
    change.items.toDF().write.mode("overwrite").json(s"$path/items")
    change.tagEdits.map(e => (e.ftype, e.ns, e.value, e.key, e.newValue.orNull))
      .toDF("ftype", "ns", "value", "key", "newValue")
      .write.mode("overwrite").json(s"$path/tagEdits")
  }

  /** changes-from-file (change.go:240-255). */
  def fromFile(spark: SparkSession, path: String): ChangeSet = {
    import spark.implicits._
    def readOr[T](sub: String, f: DataFrame => Seq[T]): Seq[T] =
      try {
        val df = spark.read.json(s"$path/$sub")
        if (df.columns.isEmpty) Nil else f(df)
      } catch { case _: org.apache.spark.sql.AnalysisException => Nil }
    ChangeSet(
      adds = readOr("adds", _.select(col("ftype"), col("ns"), col("value"),
        from_json(col("tags"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType)).as("tags"),
        col("lat"), col("lng"))
        .as[(String, String, Long, Map[String, String], Double, Double)]
        .collect().toSeq.map(FeatureAdd.tupled)),
      members = readOr("members", _.select(col("relNs"), col("relValue"),
        col("pos").cast("int"), col("toType"), col("toId"), col("role"))
        .as[(String, Long, Int, String, Long, String)].collect().toSeq.map(MemberAdd.tupled)),
      items = readOr("items", _.select(col("ns"), col("value"),
        col("pos").cast("int"), col("key"), col("item"))
        .as[(String, Long, Int, String, String)].collect().toSeq.map(ItemAdd.tupled)),
      tagEdits = readOr("tagEdits", df0 => {
        // JSON lines omit null fields; an all-removals changelog has no
        // newValue column at all
        val df = if (df0.columns.contains("newValue")) df0
          else df0.withColumn("newValue", lit(null).cast("string"))
        df.select(col("ftype"), col("ns"), col("value"), col("key"), col("newValue"))
          .as[(String, String, Long, String, Option[String])].collect().toSeq.map(TagEdit.tupled)
      }))
  }
}
