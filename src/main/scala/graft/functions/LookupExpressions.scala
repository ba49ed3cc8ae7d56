package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The tracked fields of a message's topic: `array<struct<path,
  * json_path>>` looked up in a driver-built per-topic table, NULL for a
  * topic the table does not configure (so `explode` yields no rows —
  * the reference's unconfigured-topic guard, lib/dsl/DSLHandler.js:
  * 127-131, which looks the topic up in its in-process DSL map).
  *
  * Why an Expression and not a join or a `map` literal: a broadcast
  * dimension join costs a broadcast job per plan and builds a hash
  * relation (a 16 MB `BytesToBytesMap` page even for a few hundred
  * rows) that stays reachable from every cached plan built on top of
  * it; a `map(...)[topic]` literal looks keys up by a linear scan
  * (`GetMapValue`), so per-message cost grows with topic count. Here the
  * table rides a `HashMap[UTF8String, ArrayData]` reference object:
  * one hash lookup per message, generated code and plan size
  * independent of topic count, nothing materialized per trigger.
  * Returned arrays are shared, read-only values.
  *
  * Measured against the `typedLit(table).getItem(topic)` form on the
  * same extraction (1M messages, 2 fields per topic, local[4] on a
  * 4-core host, median of 5 alternating runs): equal at 10 topics,
  * the literal 1.09x slower at 100, 1.26x at 1,000 and 3.5x at 10,000
  * topics, field discovery's default per-scan topic cap.
  */
case class TopicFields(child: Expression, table: Map[String, Seq[(String, String)]])
    extends UnaryExpression {

  override def dataType: DataType = TopicFields.ResultType

  override def nullable: Boolean = true

  override def prettyName: String = "topic_fields"

  // the table can hold thousands of topics: plan strings show its size only
  override def toString: String = s"$prettyName($child, ${table.size} topics)"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"topic_fields expects a string topic, got $t")
    }

  @transient private lazy val index: java.util.HashMap[UTF8String, ArrayData] = {
    val m = new java.util.HashMap[UTF8String, ArrayData](table.size * 2)
    table.foreach { case (topic, fields) =>
      m.put(UTF8String.fromString(topic), new GenericArrayData(fields.map { case (p, jp) =>
        InternalRow(UTF8String.fromString(p), UTF8String.fromString(jp))
      }.toArray[Any]))
    }
    m
  }

  override def nullSafeEval(topic: Any): Any = index.get(topic)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topicFields", index, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, t =>
      s"""
         |${ev.value} = (ArrayData) $ref.get($t);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): TopicFields = copy(child = c)
}

object TopicFields {
  val ResultType: DataType = ArrayType(
    StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("json_path", StringType, nullable = false))),
    containsNull = false)

  /** Column form: `table` maps each topic to its `(path, jsonPath)`
    * pairs, in output order.
    */
  def lookup(topic: Column, table: Map[String, Seq[(String, String)]]): Column =
    ColumnBridge.column(TopicFields(ColumnBridge.expression(topic), table))
}
