package graft

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeRow}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.MisraGriesSketch

/** Sketch-law property tests (SURVEY.md §5): the parallel≡local invariant
  * of the reference — any partitioning of the input into merged partials
  * must preserve the Misra-Gries guarantee (no false negatives above
  * N/(k+1), counts are lower bounds within N/(k+1)). Randomized over 300
  * seeded trials (deterministic). Drives the native aggregate's buffer
  * API directly over string rows, so no Spark job runs; every partial
  * goes through serialize/deserialize, as it would across a shuffle.
  */
class MisraGriesSpec extends AnyFunSuite {

  private val k = 5
  private val alphabet = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")
  private val mg = MisraGriesSketch(BoundReference(0, StringType, nullable = true), Literal(k))
  private type Buf = mutable.HashMap[UnsafeRow, Long]

  private def build(xs: Seq[String]): Buf =
    xs.foldLeft(mg.createAggregationBuffer()) { (b, x) =>
      mg.update(b, InternalRow(UTF8String.fromString(x)))
    }

  private def result(b: Buf): Map[String, Long] = {
    val m = mg.eval(b).asInstanceOf[MapData]
    (0 until m.numElements()).map { i =>
      m.keyArray().getUTF8String(i).toString -> m.valueArray().getLong(i)
    }.toMap
  }

  private def runPartitioned(xs: Seq[String], splits: Int): Map[String, Long] = {
    val parts = if (splits <= 1) Seq(xs)
      else xs.grouped(math.max(1, xs.length / splits)).toSeq
    result(parts.map(p => mg.deserialize(mg.serialize(build(p))))
      .foldLeft(mg.createAggregationBuffer())(mg.merge))
  }

  private def trials(f: (List[String], Int) => Unit): Unit = {
    val rnd = new scala.util.Random(7L)
    (1 to 300).foreach { _ =>
      val n = 1 + rnd.nextInt(400)
      // skewed draw so some values cross the N/(k+1) threshold
      val xs = List.fill(n)(alphabet(math.min(rnd.nextInt(10), rnd.nextInt(10))))
      f(xs, 1 + rnd.nextInt(7))
    }
  }

  test("no false negatives above N/(k+1), any partitioning") {
    trials { (xs, splits) =>
      val n = xs.length.toLong
      val truth = xs.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val sketch = runPartitioned(xs, splits)
      truth.foreach { case (v, c) =>
        if (c > n / (k + 1)) assert(sketch.contains(v), s"missed $v (freq $c of $n)")
      }
    }
  }

  test("sketch counts are lower bounds within N/(k+1)") {
    trials { (xs, splits) =>
      val n = xs.length.toLong
      val truth = xs.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val sketch = runPartitioned(xs, splits)
      sketch.foreach { case (v, c) =>
        val t = truth.getOrElse(v, 0L)
        assert(c <= t, s"overcount $v: $c > $t")
        assert(c >= t - n / (k + 1), s"undercount beyond bound for $v")
      }
    }
  }

  test("buffer never exceeds k counters") {
    trials { (xs, _) =>
      assert(build(xs).size <= k)
    }
  }

  test("merge is commutative on the result set") {
    // merge may mutate its arguments (mutable buffer) — rebuild fresh
    // buffers for each merge order from the same seeds
    def seeded(seed: Long) = {
      val rnd = new scala.util.Random(seed)
      build(List.fill(100)(alphabet(rnd.nextInt(10))))
    }
    (1 to 100).foreach { i =>
      val r1 = result(mg.merge(seeded(2L * i), seeded(2L * i + 1)))
      val r2 = result(mg.merge(seeded(2L * i + 1), seeded(2L * i)))
      assert(r1 == r2)
    }
  }

  test("exact when distinct values <= k (any partitioning)") {
    val rnd = new scala.util.Random(13L)
    val xs = Seq.fill(40)("x") ++ Seq.fill(25)("y") ++ Seq.fill(10)("z")
    (1 to 6).foreach { splits =>
      val s = runPartitioned(rnd.shuffle(xs.toList), splits)
      assert(s == Map("x" -> 40L, "y" -> 25L, "z" -> 10L))
    }
  }
}
