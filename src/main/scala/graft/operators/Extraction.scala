package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Dsl
import graft.functions.{SchemaFlatten, TopicFields}

/** Projection of wide event rows into the engine's long-format spine
  * `(topic, path, value, produced)` — the Spark analog of the reference's
  * sigma event store (reference: lib/db/model/SigmaModel.js:15-19, which
  * keeps one row per observed numeric field sample).
  *
  * Design for scale: this is a single narrow projection (`explode` over a
  * literal array of per-field structs) — no join, no shuffle, fully
  * inside whole-stage codegen. Null extractions are dropped exactly like
  * the reference's per-field null guard (lib/dsl/DSLHandler.js:156-164).
  */
object Extraction {

  /** One tracked field: its dot path and the column expression that
    * extracts it from the wide row.
    */
  final case class FieldCol(path: String, value: Column)

  /** Project wide rows to long format. `topic`/`ts` name the topic and
    * event-time columns; `fields` are the tracked extractions.
    */
  def longFormat(
      df: DataFrame,
      topic: Column,
      ts: Column,
      fields: Seq[FieldCol],
      includeFrequency: Boolean = false,
      carry: Seq[(String, Column)] = Nil,
  ): DataFrame = {
    val base = fields.map { f =>
      // try_cast: a non-numeric extraction nulls (and is dropped by the
      // F3 guard below) instead of throwing under ANSI mode — the
      // reference's per-field null/undefined skip (lib/dsl/
      // DSLHandler.js:156-164) never aborts the stream on bad data
      struct(lit(f.path).as("path"), f.value.try_cast("double").as("value"))
    }
    // Virtual __topic_frequency = 1.0 per message turns count-per-window
    // into rate tracking (reference: lib/dsl/DSLHandler.js:14-15,133-146).
    val all =
      if (includeFrequency)
        base :+ struct(lit(Dsl.FrequencyField).as("path"), lit(1.0).as("value"))
      else base
    val carried = carry.map { case (n, c) => c.as(n) }
    df.select(
        Seq(topic.as("topic"), ts.as("produced"), explode(array(all: _*)).as("pv")) ++ carried: _*
      )
      .select(
        Seq(col("topic"), col("pv.path").as("path"), col("pv.value").as("value"), col("produced")) ++
          carry.map { case (n, _) => col(n) }: _*
      )
      .filter(col("value").isNotNull) // F3 null-extraction guard
      .filter(col("topic").isNotNull) // F1 malformed-message guard
  }

  /** Long-format projection for a JSON-payload message relation shaped
    * like the reference's normalized input `{topic, value: json, ts}`:
    * each DSL path is extracted with `get_json_object` (codegen'd, no
    * UDF) and cast to double.
    */
  def fromJsonMessages(
      df: DataFrame,
      topic: Column,
      jsonValue: Column,
      ts: Column,
      paths: Seq[String],
      includeFrequency: Boolean = false,
  ): DataFrame =
    longFormat(
      df,
      topic,
      ts,
      paths.map(p => FieldCol(p, SchemaFlatten.jsonByPath(jsonValue, p).try_cast("double"))),
      includeFrequency,
    )

  /** Multi-topic long-format projection in ONE plan: instead of a
    * filter+union branch per topic (plan size O(topics) — a
    * plan-explosion at the reference's "every topic on the cluster"
    * cardinality), each message looks its topic's `(path, jsonPath)`
    * list up in a table built once on the driver from `topicPaths`
    * ([[TopicFields]]: one hash lookup per message, no join, no
    * broadcast job, no hash relation for a cached store segment to
    * pin) and the list is exploded to one row per tracked field. An
    * unconfigured topic looks up NULL and yields no rows — the F2 guard
    * (reference: lib/dsl/DSLHandler.js:127-131, a lookup in the
    * in-process DSL map). Each message is parsed ONCE (`try_parse_json`
    * before the explode, not once per extracted field); per-path
    * extraction is a cheap binary traversal (`try_variant_get`), and
    * malformed payloads yield a null variant whose extractions all fall
    * to the F3 filter. Plan node count and per-message cost are
    * independent of topic count. The virtual `__topic_frequency` row
    * (P6) rides the same list with a constant 1.0 value.
    */
  def fromJsonMessagesMulti(
      df: DataFrame,
      topic: Column,
      jsonValue: Column,
      ts: Column,
      topicPaths: Seq[(String, Seq[String])],
      includeFrequency: Boolean = false,
      carry: Seq[(String, Column)] = Nil,
  ): DataFrame = {
    val table = topicPaths.groupMapReduce(_._1)(_._2)(_ ++ _).map { case (t, ps) =>
      val fields = ps.map(p => (p, SchemaFlatten.jsonPathOf(p)))
      t -> (if (includeFrequency) fields :+ ((Dsl.FrequencyField, "$")) else fields)
    }
    val carried = carry.map { case (n, c) => c.as(n) }
    df.select(
        Seq(topic.as("topic"), jsonValue.as("__json"), ts.as("produced")) ++ carried: _*
      )
      .filter(col("topic").isNotNull) // F1 malformed-message guard
      // ONE parse per message, below the explode: a generator's sibling
      // expressions in the same select would run once per field
      .withColumn("__var", expr("try_parse_json(__json)"))
      .select(
        Seq(
          col("topic"), col("produced"), col("__var"),
          // F2 unconfigured-topic guard: NULL fields explode to no rows
          explode(TopicFields.lookup(col("topic"), table)).as("__f"),
        ) ++ carry.map { case (n, _) => col(n) }: _*
      )
      .select(
        Seq(
          col("topic"), col("__f.path").as("path"),
          // extract as STRING then try_cast: a direct 'double' variant
          // cast would coerce JSON booleans to 1.0/0.0, diverging from
          // the batch path (get_json_object + try_cast -> null) and the
          // reference's numbers-only guard
          when(col("__f.path") === lit(Dsl.FrequencyField), lit(1.0))
            .otherwise(expr("try_variant_get(__var, __f.json_path, 'string')").try_cast("double"))
            .as("value"),
          col("produced"),
        ) ++ carry.map { case (n, _) => col(n) }: _*
      )
      .filter(col("value").isNotNull) // F3 null-extraction guard
  }
}
