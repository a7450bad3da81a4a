package graft.expr

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Rows of `valueType` by string key, held in a broadcast variable: the
  * driver reads its own copy, and each executor deserializes the table
  * once, however many tasks probe it ([[KeyLookup]]). Making the table
  * launches no job. Two tables are equal only when they are the same
  * table, so plans compare and hash in O(1) whatever the table holds. */
final class KeyTable private (rows: Broadcast[java.util.HashMap[UTF8String, InternalRow]],
    val valueType: StructType) extends Serializable {
  private val id = java.util.UUID.randomUUID()
  @transient private lazy val local = rows.value

  /** The row under `key`, or null. */
  def get(key: UTF8String): InternalRow = local.get(key)

  /** Drops the table's copies, on the driver and the executors; a plan
    * that probes it cannot run after. */
  def destroy(): Unit = rows.destroy()

  override def equals(o: Any): Boolean = o match {
    case t: KeyTable => t.id == id
    case _ => false
  }
  override def hashCode: Int = id.hashCode
  override def toString: String = s"KeyTable(broadcast ${rows.id})"
}

object KeyTable {
  /** The table of `rows`, broadcast from `sc`: each row's value is the
    * struct of `valueType` that `value` projects from it, under the key
    * at ordinal `key`. The rows must be copies, and their keys distinct
    * and non-null. */
  def apply(sc: SparkContext, rows: Iterator[InternalRow], key: Int, valueType: StructType,
      value: InternalRow => InternalRow): KeyTable = {
    val m = new java.util.HashMap[UTF8String, InternalRow]()
    rows.foreach(r => m.put(r.getUTF8String(key).clone(), value(r).copy()))
    new KeyTable(sc.broadcast(m), valueType)
  }
}

/** Catalyst expression: the [[KeyTable]] row under a string key, or null
  * when the table has none. One hash probe per row, inside whole-stage
  * codegen, where a join against the same rows would plan a broadcast
  * (a Spark job) and a hashed join; being deterministic and free of
  * subqueries, it also leaves a plain scan plain for the driver
  * ([[graft.format.DriverIO.plain]]). */
case class KeyLookup(key: Expression, table: KeyTable)
    extends UnaryExpression with ExpectsInputTypes {

  override def child: Expression = key
  override def dataType: DataType = table.valueType
  override def nullable: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "key_lookup"

  override def nullSafeEval(k: Any): Any = table.get(k.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("keyTable", table, classOf[KeyTable].getName)
    nullSafeCodeGen(ctx, ev, k =>
      s"""${ev.value} = $t.get($k);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): KeyLookup =
    copy(key = newChild)
}

object KeyLookup {
  def column(key: Column, table: KeyTable): Column =
    GraftBridge.column(KeyLookup(GraftBridge.expression(key), table))
}
