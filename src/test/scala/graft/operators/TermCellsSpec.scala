package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** [[TermCells]]: value→count partials that merge, survive their byte form,
  * and overflow for good past their key limit. */
class TermCellsSpec extends SparkTestBase {

  private val cells = TermCells(BoundReference(0, StringType, nullable = true), limit = 3)

  private def buffer(keys: String*): TermCells.Buffer =
    keys.foldLeft(cells.createAggregationBuffer())((b, k) =>
      cells.update(b, InternalRow(Option(k).map(UTF8String.fromString).orNull)))

  /** (overflow, (key, count) pairs in output order) of a buffer. */
  private def result(b: TermCells.Buffer): (Boolean, Seq[(String, Long)]) = {
    val out = cells.eval(b).asInstanceOf[InternalRow]
    val arr = out.getArray(1)
    (out.getBoolean(0), (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 2)
      (r.getUTF8String(0).toString, r.getLong(1))
    })
  }

  private def roundTrip(b: TermCells.Buffer): TermCells.Buffer =
    cells.deserialize(cells.serialize(b))

  test("partials merge into per-key counts sorted by key; nulls are not counted") {
    val a = buffer("b", "a", null, "b")
    val b = buffer("c", "b", null)
    assert(result(cells.merge(a, b)) === (false, Seq("a" -> 1L, "b" -> 3L, "c" -> 1L)))
    assert(result(buffer()) === (false, Nil))
  }

  test("serialize/deserialize round-trips counts and the overflow flag") {
    val a = buffer("x", "y", "x")
    assert(result(roundTrip(a)) === result(a))
    // a deserialized partial merges like the original
    assert(result(cells.merge(roundTrip(a), roundTrip(buffer("y", "z")))) ===
      (false, Seq("x" -> 2L, "y" -> 2L, "z" -> 1L)))
    val over = buffer("a", "b", "c", "d")
    assert(result(roundTrip(over)) === (true, Nil))
    assert(result(roundTrip(buffer())) === (false, Nil))
  }

  test("one key past the limit overflows, and the flag stays set across merges") {
    // exactly `limit` keys: no overflow, more counts of a kept key are fine
    assert(result(buffer("a", "b", "c", "a")) === (false, Seq("a" -> 2L, "b" -> 1L, "c" -> 1L)))
    assert(result(buffer("a", "b", "c", "d"))._1)
    // further updates do not grow an overflowed map
    val over = cells.update(buffer("a", "b", "c", "d"), InternalRow(UTF8String.fromString("e")))
    assert(result(over) === (true, Nil))
    // overflow either side of a merge, or in the merged union
    assert(result(cells.merge(buffer("a"), buffer("a", "b", "c", "d"))) === (true, Nil))
    assert(result(cells.merge(buffer("a", "b", "c", "d"), buffer("a"))) === (true, Nil))
    assert(result(cells.merge(buffer("a", "b"), buffer("c", "d"))) === (true, Nil))
    val merged = cells.merge(roundTrip(buffer("a", "b", "c", "d")), buffer())
    assert(result(cells.merge(buffer("a"), merged)) === (true, Nil))
  }

  test("through Spark: the cells equal a groupBy count over every partition") {
    import spark.implicits._
    val df = (0 until 400).map { i =>
      (if (i % 9 == 0) None else Some(s"k${i % 13}"),
        if (i % 7 == 0) None else Some(if (i % 5 == 0) -0.0 else (i % 4) * 0.5),
        Seq(Some(s"t${i % 3}"), if (i % 4 == 0) None else Some("t9")))
    }.toDF("s", "d", "tags").repartition(4)
    def viaCells(c: String): Seq[(Any, Long)] = {
      val r = df.agg(TermCells.of(col(c), 100).as("c")).head().getStruct(0)
      assert(!r.getBoolean(0))
      r.getSeq[Row](1).map(x => (x.get(0), x.getLong(1)))
    }
    def viaGroupBy(key: org.apache.spark.sql.Column): Seq[(Any, Long)] =
      df.select(key.as("k")).filter(col("k").isNotNull).groupBy("k").count()
        .orderBy("k").collect().map(x => (x.get(0), x.getLong(1))).toSeq
    assert(viaCells("s") === viaGroupBy(col("s")))
    // -0.0 counts as 0.0, as the groupBy's key normalization counts it
    assert(viaCells("d") === viaGroupBy(col("d")))
    assert(viaCells("d").map(_._1).contains(0.0))
    // an array column counts each non-null element
    assert(viaCells("tags") === viaGroupBy(explode(col("tags"))))
    // past the limit in some partition or in the merge: overflow, no cells
    val over = df.agg(TermCells.of(col("s"), 5).as("c")).head().getStruct(0)
    assert(over.getBoolean(0) && over.getSeq[Row](1).isEmpty)
  }
}
