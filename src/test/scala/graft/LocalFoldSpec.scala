package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation,
  LogicalPlan, Union}
import org.apache.spark.sql.functions.{col, collate, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.LocalFold

/** [[graft.ops.LocalFold]] against Spark's own plan: every case gives the
  * rows and the schema (nullability included) of the same query with the
  * rule absent, over seeded random local relations. */
class LocalFoldSpec extends AnyFunSuite {
  import TestSpark.spark

  /** `n` rows of a local relation whose columns carry `p`'s prefix: an
    * int key `k` (duplicates, 10 % null), a double `d` (`0.0`, `-0.0`,
    * `NaN`, `1.5`, null), a string `s` (null among them) and a non-null
    * int `v`. */
  private def relation(p: String, seed: Long, n: Int = 40): DataFrame = {
    val r = new Random(seed)
    def pick[T](xs: T*): T = xs(r.nextInt(xs.length))
    val rows = Seq.fill(n)(Row(
      if (r.nextInt(10) == 0) null else r.nextInt(6),
      pick[Any](0.0, -0.0, Double.NaN, 1.5, null),
      pick[Any]("a", "b", "c", null),
      r.nextInt(100)))
    val schema = StructType(Seq(
      StructField(s"${p}k", IntegerType), StructField(s"${p}d", DoubleType),
      StructField(s"${p}s", StringType),
      StructField(s"${p}v", IntegerType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def left(seed: Long) = relation("l", seed)
  private def right(seed: Long) = relation("r", seed + 1000)

  /** `body` with the rule out of the session's optimizations. */
  private def absent[T](body: => T): T = {
    val x = spark.experimental
    val prev = x.extraOptimizations
    x.extraOptimizations = prev.filterNot(_ == LocalFold)
    try body finally x.extraOptimizations = prev
  }

  /** The optimized schema and the sorted rows of a fresh `query()`. */
  private def result(query: () => DataFrame): (StructType, Seq[String]) = {
    val df = query()
    (df.queryExecution.optimizedPlan.schema,
      df.collect().map(_.toString).sorted.toSeq)
  }

  /** Fails unless `query` gives the same schema and rows with the rule
    * and without it; returns the optimized plan with the rule. */
  private def same(query: => DataFrame): LogicalPlan = {
    val (schema, rows) = result(() => query)
    val (schema0, rows0) = absent(result(() => query))
    assert(schema === schema0)
    assert(rows === rows0)
    query.queryExecution.optimizedPlan
  }

  /** [[same]], and the whole query folded into one local relation. */
  private def folds(query: => DataFrame): Unit = {
    val plan = same(query)
    assert(plan.isInstanceOf[LocalRelation], plan.treeString)
    assert(!absent(query.queryExecution.optimizedPlan)
      .isInstanceOf[LocalRelation])
  }

  private val joinTypes = Seq("inner", "left_outer", "left_semi", "left_anti")

  private def join(seed: Long, how: String)(on: (DataFrame, DataFrame) => Column) = {
    val (l, r) = (left(seed), right(seed))
    l.join(r, on(l, r), how)
  }

  test("equi-joins of every folded type: duplicate keys, null keys never " +
      "match") {
    for (seed <- 1L to 4L; how <- joinTypes) withClue(s"$seed $how: ") {
      folds(join(seed, how)((l, r) => l("lk") === r("rk")))
      folds(join(seed, how)((l, r) => l("ls") === r("rs")))
      folds(join(seed, how)((l, r) =>
        l("lk") === r("rk") && l("ls") === r("rs")))
    }
  }

  test("null-safe keys: <=> matches null with null") {
    for (seed <- 1L to 4L; how <- joinTypes) withClue(s"$seed $how: ") {
      folds(join(seed, how)((l, r) => l("lk") <=> r("rk")))
      folds(join(seed, how)((l, r) =>
        l("lk") <=> r("rk") && l("ls") === r("rs")))
    }
  }

  test("double keys: -0.0 joins 0.0 and NaN joins NaN, as in Spark") {
    for (seed <- 1L to 4L; how <- joinTypes) withClue(s"$seed $how: ") {
      folds(join(seed, how)((l, r) => l("ld") === r("rd")))
      folds(join(seed, how)((l, r) => l("ld") <=> r("rd")))
    }
  }

  test("residual conditions filter matches, and an unmatched left row " +
      "still pads an outer join") {
    for (seed <- 1L to 4L; how <- joinTypes) withClue(s"$seed $how: ") {
      folds(join(seed, how)((l, r) => l("lk") === r("rk") && l("lv") < r("rv")))
      folds(join(seed, how)((l, r) => l("lk") === r("rk") &&
        (l("ls").isNull || r("rd") > 1.0)))
    }
  }

  test("Union folds, its nullability merged over the children") {
    for (seed <- 1L to 4L) withClue(s"$seed: ") {
      folds(left(seed).union(right(seed)))
      // non-null v over a nullable k: the output column is nullable
      folds(left(seed).select(col("lv").as("x"))
        .union(right(seed).select(col("rk").as("x")))
        .union(left(seed + 7).select(col("lv").as("x"))))
    }
  }

  test("DISTINCT folds; -0.0 and NaN group as Spark groups them") {
    for (seed <- 1L to 4L) withClue(s"$seed: ") {
      folds(left(seed).distinct())
      folds(left(seed).select("ld").distinct())
      folds(left(seed).select((col("lk") + 1).as("k1"), col("ls")).distinct())
      folds(left(seed).select("lk", "ld").intersect(
        right(seed).select("rk", "rd")))
      folds(left(seed).select("lk", "ld").except(
        right(seed).select("rk", "rd")))
    }
  }

  test("collated string keys group and match as Spark's collation does") {
    def cased(p: String, xs: String*) = spark.createDataFrame(
      java.util.Arrays.asList(xs.map(Row(_)): _*),
      StructType(Seq(StructField(s"${p}s", StringType))))
      .select(collate(col(s"${p}s"), "UTF8_LCASE").as(s"${p}c"))
    def l = cased("l", "A", "a", "b", "B", "c")
    def r = cased("r", "a", "B", "d")
    // grouped by its bytes, 'A' and 'a' would be two rows
    val distinct = same(l.distinct())
    assert(!distinct.isInstanceOf[LocalRelation], distinct.treeString)
    assert(l.distinct().count() === 3)
    // Spark joins on the collation key, a binary column, which may fold
    for (how <- joinTypes) withClue(s"$how: ")(
      same(l.join(r, col("lc") === col("rc"), how)))
  }

  test("nested joins, unions and distincts fold into one relation, " +
      "Project, Filter and Limit between them") {
    for (seed <- 1L to 4L) withClue(s"$seed: ") {
      folds {
        val (l, r) = (left(seed), right(seed))
        val j = l.filter(col("lv") > 10).join(r, l("lk") === r("rk"))
          .select(col("lk").as("k"), col("rs").as("s"))
        j.union(j.filter(col("s") === "a")).distinct()
          .join(left(seed + 3), col("k") === col("lk"), "left_semi")
          .limit(1000)
      }
    }
  }

  test("what is no fold stays Spark's: general aggregates and sorts") {
    val agg = same(left(1).groupBy("lk").count())
    assert(!agg.isInstanceOf[LocalRelation], agg.treeString)
    val sorted = same(left(1).join(right(1), col("lk") === col("rk"))
      .orderBy("lv", "rv", "ls", "rs", "ld", "rd"))
    assert(!sorted.isInstanceOf[LocalRelation])
    assert(sorted.children.forall(_.isInstanceOf[LocalRelation]),
      sorted.treeString)
  }

  test("a result past the row budget leaves that subtree to Spark, and " +
      "budget 0 disables the rule") {
    def q = left(1).join(right(1), col("lk") === col("rk"))
      .union(left(2).select(lit(0), lit(0.0), lit(""), lit(0), lit(0),
        lit(0.0), lit(""), lit(0)))
    val rows = q.count().toInt
    val joined = rows - 40
    assert(joined > 20)
    def plan(budget: Int) =
      IngestArms.under(IngestArms.Arm(s"$budget", budget))(same(q))
    assert(plan(rows).isInstanceOf[LocalRelation])
    // the union passes the budget: its children stay folded
    val union = plan(rows - 1)
    assert(union.isInstanceOf[Union], union.treeString)
    assert(union.children.forall(_.isInstanceOf[LocalRelation]))
    // the join passes it too: Spark joins, its inputs still folded
    for (budget <- Seq(joined - 1, 0)) withClue(s"budget $budget: ") {
      val p = plan(budget)
      assert(p.exists(_.isInstanceOf[Join]), p.treeString)
    }
  }

  test("a join whose key matches pass the budget is Spark's, however few " +
      "rows its residual keeps") {
    def q(residual: Boolean) = left(1).join(right(1), col("lk") === col("rk") &&
      (if (residual) col("lv") < col("rv") else lit(true)))
    val matches = q(residual = false).count().toInt
    assert(q(residual = true).count() < matches)
    def plan(budget: Int) = IngestArms.under(
      IngestArms.Arm(s"$budget", budget))(same(q(residual = true)))
    assert(plan(matches).isInstanceOf[LocalRelation])
    val p = plan(matches - 1)
    assert(p.exists(_.isInstanceOf[Join]), p.treeString)
  }

  test("install is idempotent") {
    LocalFold.install(spark)
    LocalFold.install(spark)
    assert(spark.experimental.extraOptimizations.count(_ == LocalFold) === 1)
  }
}
