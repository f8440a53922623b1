package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck law for [[DeltaLog.diffVersions]]' two sources: the
  * same random sequence of `append`/`merge`/`delete` runs on a table
  * with `delta.enableChangeDataFeed=true` (diffs net its `_change_data`
  * and derived change frames) and on one without (diffs recompute from
  * the changed data files). For every asked `(from, to]` range both
  * give the same row multiset, and it equals the multiset difference of
  * a driver-side model of the two table states.
  *
  * Each sequence carries the three cases a netting bug hides in:
  *  - an append of a fresh key 7 and three copies of one key-8 row
  *    (|net| = 3 over any range holding it);
  *  - a merge rewriting key 7 to its own value (pre-image ==
  *    post-image, must cancel);
  *  - a delete of key 7 (insert then delete, must cancel over a range
  *    holding both).
  * Random appends, merges and deletes over keys 0..4 surround them.
  */
class DiffVersionsPropertySpec extends SparkSpec {

  private type Row = (Long, Long)

  private sealed trait Op
  private final case class Append(rows: Seq[Row]) extends Op
  private final case class Merge(rows: Seq[Row]) extends Op
  private final case class Delete(id: Long) extends Op

  private val rowGen: Gen[Row] =
    for (k <- Gen.chooseNum(0L, 4L); v <- Gen.chooseNum(0L, 2L)) yield (k, v)

  private val randomOp: Gen[Op] = Gen.frequency(
    2 -> Gen.nonEmptyListOf(rowGen).map(rs => Append(rs.take(4))),
    // MERGE takes one source row per key
    2 -> Gen.nonEmptyListOf(rowGen).map(rs => Merge(rs.take(3).toMap.toSeq)),
    1 -> Gen.chooseNum(0L, 4L).map(Delete(_)))

  /** (creation rows, ops, two extra ranges as version-index pairs). */
  private val caseGen: Gen[(Seq[Row], Seq[Op], Seq[(Double, Double)])] = for {
    create <- Gen.nonEmptyListOf(rowGen).map(_.take(4))
    v7 <- Gen.chooseNum(0L, 2L)
    v8 <- Gen.chooseNum(0L, 2L)
    before <- Gen.choose(0, 1).flatMap(Gen.listOfN(_, randomOp))
    between <- Gen.choose(0, 1).flatMap(Gen.listOfN(_, randomOp))
    after <- Gen.choose(0, 1).flatMap(Gen.listOfN(_, randomOp))
    ranges <- Gen.listOfN(2, Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)))
  } yield (create,
    before ++ Seq(Append(Seq((7L, v7)) ++ Seq.fill(3)((8L, v8))), Merge(Seq((7L, v7)))) ++
      between ++ Seq(Delete(7L)) ++ after,
    ranges)

  /** The table state after `op`, as MERGE and DELETE define it. */
  private def step(state: Seq[Row], op: Op): Seq[Row] = op match {
    case Append(rows) => state ++ rows
    case Merge(rows) =>
      val keys = rows.map(_._1).toSet
      state.filterNot(r => keys(r._1)) ++ rows
    case Delete(id) => state.filterNot(_._1 == id)
  }

  /** `b` minus `a` as signed multiplicities, zeros dropped. */
  private def net(a: Seq[Row], b: Seq[Row]): Map[(Long, Long, String), Int] = {
    val counts = b.groupBy(identity).map { case (r, rs) => r -> rs.size }
      .foldLeft(a.groupBy(identity).map { case (r, rs) => r -> -rs.size }) {
        case (m, (r, n)) => m.updated(r, m.getOrElse(r, 0) + n)
      }
    counts.collect {
      case ((k, v), n) if n > 0 => (k, v, "insert") -> n
      case ((k, v), n) if n < 0 => (k, v, "delete") -> -n
    }
  }

  private def diffOf(t: String, from: Long, to: Long): Map[(Long, Long, String), Int] =
    DeltaLog.diffVersions(spark, t, from, to).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(identity).map { case (r, rs) => r -> rs.length }

  private def frame(rows: Seq[Row]) = {
    import spark.implicits._
    rows.toDF("id", "v").coalesce(1)
  }

  private def run(t: String, op: Op): Long = op match {
    case Append(rows) => DeltaLog.append(spark, t, frame(rows))
    case Merge(rows) => DeltaLog.merge(spark, t, frame(rows), Seq("id"))
    case Delete(id) => DeltaLog.delete(spark, t, col("id") === id)
  }

  test("change-feed diffs equal file-diff recomputes and the model (ScalaCheck, 3 op sequences)") {
    val prop = Prop.forAllNoShrink(caseGen) { case (create, ops, extra) =>
      val cdf = Files.createTempDirectory("graft-diffprop-cdf").toString
      val plain = Files.createTempDirectory("graft-diffprop").toString
      DeltaLog.append(spark, cdf, frame(create),
        configuration = Map("delta.enableChangeDataFeed" -> "true"))
      DeltaLog.append(spark, plain, frame(create))
      // states(v) is the model at version v; opVersion(i) the version op i committed
      val states = scala.collection.mutable.ArrayBuffer(create)
      val opVersion = ops.map { op =>
        val (a, b) = (run(cdf, op), run(plain, op))
        assert(a == b, s"$op committed version $a with the change feed, $b without")
        val next = step(states.last, op)
        if (a >= 0) states += next else assert(next.sorted == states.last.sorted, op.toString)
        a
      }
      val last = states.size - 1L
      def versionOf(p: PartialFunction[Op, Boolean]) =
        opVersion(ops.indexWhere(p.applyOrElse(_, (_: Op) => false)))
      val inserted = versionOf { case Append(rs) => rs.exists(_._1 == 7L) }
      val noOp = versionOf { case Merge(rs) => rs.exists(_._1 == 7L) }
      val deleted = versionOf { case Delete(7L) => true }
      // the model holds the three cases: key 8 nets +3, key 7 cancels
      // over the span, the no-op merge nets nothing
      val span = net(states(inserted.toInt - 1), states(deleted.toInt))
      assert(span.collect { case ((8L, _, "insert"), n) => n }.sum == 3, span.toString)
      assert(!span.keys.exists(_._1 == 7L), span.toString)
      assert(net(states(noOp.toInt - 1), states(noOp.toInt)).isEmpty)
      val ranges = Seq((inserted - 1, deleted), (noOp - 1, noOp)) ++ extra.map { case (x, y) =>
        val (a, b) = ((x * last).toLong, (y * last).toLong)
        if (a == b) (math.max(0L, a - 1), math.max(1L, a)) else (math.min(a, b), math.max(a, b))
      }
      ranges.forall { case (from, to) =>
        val want = net(states(from.toInt), states(to.toInt))
        val got = diffOf(cdf, from, to)
        val recomputed = diffOf(plain, from, to)
        assert(got == recomputed, s"($from, $to]: change feed $got, file diff $recomputed")
        assert(got == want, s"($from, $to]: diff $got, model $want")
        true
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(3), prop)
    assert(res.passed, res.status.toString)
  }
}
