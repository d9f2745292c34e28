package graft

import scala.io.Source

import org.apache.spark.sql.functions._
import graft.plans.{MvRewrite, MvRegistry}
import graft.plans.MvRegistry.AggDef
import graft.plans.MvRewrite.scanRoots

/** Materialized-view rewrite (plans/MvRewrite.scala): exact-key projection,
  * subset-key rollup re-aggregation, conservative misses, exprId
  * preservation under downstream operators, deregistration, and the
  * [[MvRewrite.serving]] scope every served query runs in.
  */
class MvRewriteSpec extends SparkTestBase {
  import spark.implicits._

  private def withMv[T](body: (String, org.apache.spark.sql.DataFrame) => T): T = {
    val baseDir = freshDir("mv_base")
    val mvDir = freshDir("mv_view")
    (1 to 300).map(i => (s"g${i % 5}", s"h${i % 3}", i.toLong))
      .toDF("g1", "g2", "v").write.parquet(baseDir)
    val base = spark.read.parquet(baseDir)
    base.groupBy("g1", "g2").agg(count(lit(1)).as("cnt"),
        count(col("v")).as("cnt_v"),
        sum(col("v")).as("sum_v"), min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
      .write.parquet(mvDir)
    MvRewrite.serving(spark, s"mv_$baseDir") {
      MvRegistry.register(spark, s"mv_$baseDir", baseDir, Seq("g1", "g2"),
        Seq(AggDef("cnt", "count", None), AggDef("cnt_v", "count", Some("v")),
          AggDef("sum_v", "sum", Some("v")),
          AggDef("min_v", "min", Some("v")), AggDef("max_v", "max", Some("v"))),
        mvDir)
    }(body(mvDir, base))
  }

  test("exact key set rewrites to a projection over the MV scan") {
    withMv { (mvDir, base) =>
      val q = base.groupBy("g1", "g2").agg(sum(col("v")).as("s"),
        count(lit(1)).as("n"))
      val paths = scanRoots(q)
      assert(paths.exists(_.contains(mvDir)), paths.mkString(","))
      assert(!paths.exists(_.contains("mv_base")), "base still scanned")
      // semantics unchanged vs an un-rewritten computation
      val expect = base.collect().groupBy(r => (r.getString(0), r.getString(1)))
      q.collect().foreach { r =>
        val g = expect((r.getString(0), r.getString(1)))
        assert(r.getLong(2) == g.map(_.getLong(2)).sum && r.getLong(3) == g.size)
      }
    }
  }

  test("key subset rolls up over the MV: sum of sums, SUM of counts") {
    withMv { (mvDir, base) =>
      val q = base.groupBy("g1").agg(count(lit(1)).as("n"),
        sum(col("v")).as("s"), min(col("v")).as("lo"), max(col("v")).as("hi"))
      assert(scanRoots(q).forall(_.contains(mvDir)))
      val got = q.collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val rows = base.collect().groupBy(_.getString(0))
      rows.foreach { case (g, rs) =>
        val vs = rs.map(_.getLong(2))
        assert(got(g) == ((rs.size.toLong, vs.sum, vs.min, vs.max)), g)
      }
    }
  }

  test("avg derives from stored sum / count(v), both arms, value-exact") {
    withMv { (mvDir, base) =>
      val q = base.groupBy("g1").agg(avg(col("v")).as("a"))
      assert(scanRoots(q).forall(_.contains(mvDir)))
      val got = q.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      base.collect().groupBy(_.getString(0)).foreach { case (g, rs) =>
        val vs = rs.map(_.getLong(2))
        assert(got(g) == vs.sum.toDouble / vs.size, g)
      }
      val exactArm = base.groupBy("g1", "g2").agg(avg(col("v")).as("a"))
      assert(scanRoots(exactArm).forall(_.contains(mvDir)))
      assert(exactArm.count() == 15)
    }
  }

  test("unsupported aggregates (distinct) fall through to the base") {
    withMv { (mvDir, base) =>
      val q2 = base.groupBy("g1", "g2").agg(countDistinct(col("v")).as("d"))
      assert(!scanRoots(q2).exists(_.contains(mvDir)))
    }
  }

  test("exprIds survive: downstream filter/sort over rewritten output") {
    withMv { (mvDir, base) =>
      val q = base.groupBy("g1").agg(sum(col("v")).as("s"))
        .where(col("s") > 0).orderBy(col("s").desc)
      assert(scanRoots(q).forall(_.contains(mvDir)))
      assert(q.count() == 5)
    }
  }

  test("v2: WHERE on key columns serves from the MV, filtered group-side") {
    withMv { (mvDir, base) =>
      // filter below the aggregate, on grouping-key columns only
      val q = base.where(col("g1") === "g1" || col("g2") === "h2")
        .groupBy("g1").agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      val paths = scanRoots(q)
      assert(paths.exists(_.contains(mvDir)), s"filtered agg must hit MV: $paths")
      assert(!paths.exists(_.contains("mv_base")), "base still scanned")
      val rows = base.collect()
        .filter(r => r.getString(0) == "g1" || r.getString(1) == "h2")
        .groupBy(_.getString(0))
      val got = q.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got.keySet == rows.keySet)
      rows.foreach { case (g, rs) =>
        assert(got(g) == ((rs.map(_.getLong(2)).sum, rs.size.toLong)), g)
      }
    }
  }

  test("v2: HAVING (filter above the agg) composes with the rewrite") {
    withMv { (mvDir, base) =>
      base.createOrReplaceTempView("mv_having_base")
      val q = spark.sql(
        """SELECT g1, sum(v) AS s FROM mv_having_base
          |GROUP BY g1 HAVING count(1) > 55 AND sum(v) > 0""".stripMargin)
      val paths = scanRoots(q)
      assert(paths.exists(_.contains(mvDir)), s"HAVING agg must hit MV: $paths")
      val expect = base.collect().groupBy(_.getString(0))
        .filter { case (_, rs) => rs.size > 55 }
        .map { case (g, rs) => g -> rs.map(_.getLong(2)).sum }
      val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect, s"$got vs $expect")
    }
  }

  test("v2 conservatism: filters on measure columns or nondeterministic fall through") {
    withMv { (mvDir, base) =>
      val onMeasure = base.where(col("v") > 100L).groupBy("g1")
        .agg(sum(col("v")).as("s"))
      assert(!scanRoots(onMeasure).exists(_.contains(mvDir)),
        "a measure predicate does NOT commute with the rollup")
      // NB: a tautological rand predicate (rand > -1) gets range-folded to
      // true by the optimizer and legitimately rewrites; this one can't fold
      val nondet = base.where(rand(7) > 0.0001 && col("g1") === "g1")
        .groupBy("g1").agg(sum(col("v")).as("s"))
      assert(!scanRoots(nondet).exists(_.contains(mvDir)),
        "nondeterministic predicates must not be re-evaluated group-side")
    }
  }

  test("tail match anchors on a path segment: 'sales' never claims 'whole_sales'") {
    val parent = freshDir("mv_anchor")
    val salesDir = s"$parent/sales"
    val wholeDir = s"$parent/whole_sales"
    val mvDir = s"$parent/mv"
    (1 to 50).map(i => (s"g${i % 3}", i.toLong)).toDF("g1", "v")
      .write.parquet(salesDir)
    // DIFFERENT values: a mis-rewrite would surface sales' sums
    (1 to 50).map(i => (s"g${i % 3}", i.toLong * 1000L)).toDF("g1", "v")
      .write.parquet(wholeDir)
    spark.read.parquet(salesDir).groupBy("g1")
      .agg(sum(col("v")).as("sum_v")).write.parquet(mvDir)
    MvRewrite.serving(spark, "mv_anchor") {
      MvRegistry.register(spark, "mv_anchor", "sales", Seq("g1"),
        Seq(AggDef("sum_v", "sum", Some("v"))), mvDir)
    } {
      val hit = spark.read.parquet(salesDir).groupBy("g1")
        .agg(sum(col("v")).as("s"))
      assert(scanRoots(hit).exists(_.contains(mvDir)), "anchored tail must still hit")
      val miss = spark.read.parquet(wholeDir).groupBy("g1")
        .agg(sum(col("v")).as("s"))
      val paths = scanRoots(miss)
      assert(!paths.exists(_.contains(mvDir)),
        s"unanchored suffix rewrote whole_sales to the MV: $paths")
      assert(miss.agg(sum(col("s"))).head.getLong(0) == (1 to 50).map(_ * 1000L).sum)
    }
  }

  test("version-stamped store: refresh commits v1, queries serve it with NO re-register") {
    import graft.sources.SnapshotLake
    val parent = freshDir("mv_ver")
    val baseDir = s"$parent/base"
    (1 to 100).map(i => (s"g${i % 4}", i.toLong)).toDF("g1", "v")
      .write.parquet(baseDir)
    val base = spark.read.parquet(baseDir)
    val root = s"$parent/store"
    SnapshotLake.commit(base.groupBy("g1")
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v")), root, 0L)
    MvRewrite.serving(spark, "mv_ver") {
      MvRegistry.register(spark, "mv_ver", baseDir, Seq("g1"),
        Seq(AggDef("cnt", "count", None), AggDef("sum_v", "sum", Some("v"))), root)
    } {
      def q = base.groupBy("g1").agg(sum(col("v")).as("s"))
      val v0 = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(scanRoots(q).exists(_.contains("/v0")), "v0 must serve first")
      // refresh: commit v1 with every stored sum shifted — if the old
      // registered relation were still serving, the shift would be invisible
      SnapshotLake.commit(
        spark.read.parquet(SnapshotLake.versionPath(root, 0L))
          .withColumn("sum_v", col("sum_v") + 1000L), root, 1L)
      val after = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      v0.foreach { case (g, s0) =>
        assert(after(g) == s0 + 1000L, s"group $g not served from v1")
      }
      assert(scanRoots(q).exists(_.stripSuffix("/").endsWith("/v1")),
        s"plan must read the v1 directory: ${scanRoots(q)}")
    }
  }

  test("a sliding window() aggregate is not served from the MV; a plain rollup is") {
    val parent = freshDir("mv_coex")
    val baseDir = s"$parent/base"
    (1 to 600).map(i => (s"g${i % 3}", i.toLong,
        new java.sql.Timestamp(1700000000000L + i * 10000L)))
      .toDF("g1", "v", "ts").write.parquet(baseDir)
    val base = spark.read.parquet(baseDir)
    val mvDir = s"$parent/mv"
    base.groupBy("g1").agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v"))
      .write.parquet(mvDir)
    MvRewrite.serving(spark, "mv_coex") {
      MvRegistry.register(spark, "mv_coex", baseDir, Seq("g1"),
        Seq(AggDef("cnt", "count", None), AggDef("sum_v", "sum", Some("v"))), mvDir)
    } {
      // sliding-window aggregate over the MV-registered base: the window
      // grouping key is not a plain column, so the MV matcher must not
      // claim it, and the plan still reads the base
      val slide = base
        .groupBy(window(col("ts"), "120 seconds", "60 seconds"), col("g1"))
        .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v"))
        .select(col("window.start").cast("long").as("ws"), col("g1"),
          col("cnt"), col("sum_v"))
      val slidePaths = scanRoots(slide)
      assert(slidePaths.exists(_.contains("/base")) && !slidePaths.exists(_.contains(mvDir)),
        s"MV must not claim a window-grouped aggregate: $slidePaths")
      // plain rollup over the same base: the MV rewrite fires
      val roll = base.groupBy("g1").agg(sum(col("v")).as("s"))
      assert(scanRoots(roll).exists(_.contains(mvDir)), "MV rewrite did not fire")
      // both return correct values with the rule live
      val expect = (1 to 600).groupBy(i => s"g${i % 3}")
        .map { case (g, is) => g -> is.map(_.toLong).sum }
      roll.collect().foreach(r => assert(r.getLong(1) == expect(r.getString(0))))
      val slideRows = slide.collect()
      assert(slideRows.map(_.getLong(2)).sum ==
        2L * 600, "each row must land in exactly 2 sliding windows")
    }
  }

  test("v3: star-join rollup serves from the MV; near-misses fall through") {
    val parent = freshDir("mv_join")
    val factDir = s"$parent/fact"
    val dimDir = s"$parent/dim"
    val mvDir = s"$parent/mv"
    (1 to 300).map(i => (i.toLong % 20, i.toLong)).toDF("fk", "v")
      .write.parquet(factDir)
    (0 until 20).map(p => (p.toLong, s"a${p % 4}")).toDF("pk", "attr")
      .write.parquet(dimDir)
    val fact = spark.read.parquet(factDir)
    val dim = spark.read.parquet(dimDir)
    fact.join(dim, col("fk") === col("pk"))
      .groupBy("attr").agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v"))
      .write.parquet(mvDir)
    MvRewrite.serving(spark, "mv_join") {
      MvRegistry.registerJoin(spark, "mv_join", factDir, dimDir, "fk", "pk",
        Seq("attr"), Seq(AggDef("cnt", "count", None),
          AggDef("sum_v", "sum", Some("v"))), mvDir)
    } {
      val q = fact.join(dim, col("fk") === col("pk"))
        .groupBy("attr").agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      val paths = scanRoots(q)
      assert(paths.exists(_.contains(mvDir)), s"join rollup must hit MV: $paths")
      assert(!paths.exists(p => p.contains("/fact") || p.contains("/dim")),
        s"fact/dim still scanned: $paths")
      // the served plan carries NO join at all — the fact⋈dim shuffle was
      // paid at materialization, the query is view-sized end to end
      assert(!q.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]),
        "served plan must not contain a Join")
      val expect = (1 to 300).groupBy(i => s"a${(i % 20) % 4}")
        .map { case (a, is) => a -> ((is.map(_.toLong).sum, is.size.toLong)) }
      q.collect().foreach { r =>
        assert((r.getLong(1), r.getLong(2)) == expect(r.getString(0)), r)
      }
      // a dim-attr (MV key) filter serves view-side too
      val qf = fact.join(dim, col("fk") === col("pk"))
        .where(col("attr") === "a1")
        .groupBy("attr").agg(sum(col("v")).as("s"))
      assert(scanRoots(qf).exists(_.contains(mvDir)), "key-filtered join must hit")
      assert(qf.collect().map(r => r.getLong(1)).toSeq ==
        Seq(expect("a1")._1))
      // a plain FACT aggregate must never be claimed by the join MV (the
      // dim join can drop or multiply fact rows)
      val qp = fact.agg(sum(col("v")).as("s"))
      assert(!scanRoots(qp).exists(_.contains(mvDir)),
        "join MV claimed a plain fact scan")
      // a measure filter under the join falls through
      val qm = fact.where(col("v") > 100L).join(dim, col("fk") === col("pk"))
        .groupBy("attr").agg(sum(col("v")).as("s"))
      assert(!scanRoots(qm).exists(_.contains(mvDir)),
        "measure-filtered join must fall through")
      // a different join condition falls through
      val qc = fact.join(dim, col("fk") === col("pk") + 1L)
        .groupBy("attr").agg(sum(col("v")).as("s"))
      assert(!scanRoots(qc).exists(_.contains(mvDir)),
        "non-matching join condition must fall through")
    }
  }

  test("versioned star-join store: refresh serves v1 with no re-register") {
    // the two round-14 tiers composed: a JOIN view in a SnapshotLake root
    import graft.sources.SnapshotLake
    val parent = freshDir("mv_jver")
    (1 to 100).map(i => (i.toLong % 10, i.toLong)).toDF("fk", "v")
      .write.parquet(s"$parent/fact")
    (0 until 10).map(p => (p.toLong, s"a${p % 2}")).toDF("pk", "attr")
      .write.parquet(s"$parent/dim")
    val fact = spark.read.parquet(s"$parent/fact")
    val dim = spark.read.parquet(s"$parent/dim")
    val root = s"$parent/store"
    SnapshotLake.commit(fact.join(dim, col("fk") === col("pk"))
      .groupBy("attr").agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v")),
      root, 0L)
    MvRewrite.serving(spark, "mv_jver") {
      MvRegistry.registerJoin(spark, "mv_jver", s"$parent/fact", s"$parent/dim",
        "fk", "pk", Seq("attr"),
        Seq(AggDef("cnt", "count", None), AggDef("sum_v", "sum", Some("v"))), root)
    } {
      def q = fact.join(dim, col("fk") === col("pk"))
        .groupBy("attr").agg(sum(col("v")).as("s"))
      val v0 = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(scanRoots(q).exists(_.stripSuffix("/").endsWith("/v0")))
      SnapshotLake.commit(
        spark.read.parquet(SnapshotLake.versionPath(root, 0L))
          .withColumn("sum_v", col("sum_v") + 500L), root, 1L)
      val v1 = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      v0.foreach { case (a, s0) => assert(v1(a) == s0 + 500L, a) }
      assert(scanRoots(q).exists(_.stripSuffix("/").endsWith("/v1")),
        s"join view must serve the refreshed version: ${scanRoots(q)}")
    }
  }

  test("v4: snowflake chain fact⋈dim1⋈dim2 serves join-free; partial chain falls through") {
    val parent = freshDir("mv_snow")
    // fact(fk,v) ⋈ mid(pk,ck) ⋈ cust(cid,seg): the classic
    // lineitem⋈orders⋈customer shape — dim2 joins THROUGH dim1
    (1 to 400).map(i => (i.toLong % 20, i.toLong)).toDF("fk", "v")
      .write.parquet(s"$parent/fact")
    (0 until 20).map(p => (p.toLong, p.toLong % 6)).toDF("pk", "ck")
      .write.parquet(s"$parent/mid")
    (0 until 6).map(c => (c.toLong, s"seg${c % 3}")).toDF("cid", "seg")
      .write.parquet(s"$parent/cust")
    val fact = spark.read.parquet(s"$parent/fact")
    val mid = spark.read.parquet(s"$parent/mid")
    val cust = spark.read.parquet(s"$parent/cust")
    def joined = fact.join(mid, col("fk") === col("pk"))
      .join(cust, col("ck") === col("cid"))
    joined.groupBy("seg")
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v"))
      .write.parquet(s"$parent/mv")
    MvRewrite.serving(spark, "mv_snow") {
      MvRegistry.registerSnowflake(spark, "mv_snow", s"$parent/fact",
        Seq(s"$parent/mid" -> Seq("fk" -> "pk"),
          s"$parent/cust" -> Seq("ck" -> "cid")),
        Seq("seg"), Seq(AggDef("cnt", "count", None),
          AggDef("sum_v", "sum", Some("v"))), s"$parent/mv")
    } {
      val q = joined.groupBy("seg")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      val paths = scanRoots(q)
      assert(paths.exists(_.contains("/mv")), s"snowflake must hit MV: $paths")
      assert(!paths.exists(p => p.contains("/fact") || p.contains("/mid") ||
        p.contains("/cust")), s"base tables still scanned: $paths")
      assert(!q.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]),
        "served plan must be join-free")
      // the OTHER association order matches too (inner joins commute)
      val q2 = mid.join(cust, col("ck") === col("cid"))
        .join(fact, col("fk") === col("pk"))
        .groupBy("seg").agg(sum(col("v")).as("s"))
      assert(scanRoots(q2).exists(_.contains("/mv")),
        s"bushy/reordered join must also hit: ${scanRoots(q2)}")
      // values against a hand rollup
      val expect = (1 to 400).groupBy(i => s"seg${((i % 20) % 6) % 3}")
        .map { case (g, is) => g -> ((is.map(_.toLong).sum, is.size.toLong)) }
      q.collect().foreach { r =>
        assert((r.getLong(1), r.getLong(2)) == expect(r.getString(0)), r)
      }
      // PARTIAL chain (fact⋈mid only) must fall through — the cust join
      // can drop rows, so serving it from the 3-way MV would be wrong
      val qp = fact.join(mid, col("fk") === col("pk"))
        .groupBy("ck").agg(sum(col("v")).as("s"))
      assert(!scanRoots(qp).exists(_.contains("/mv")),
        "partial chain must not be served")
      // EXTRA equi-condition (different join semantics) falls through
      val qe = fact.join(mid, col("fk") === col("pk"))
        .join(cust, col("ck") === col("cid") && col("fk") === col("cid"))
        .groupBy("seg").agg(sum(col("v")).as("s"))
      assert(!scanRoots(qe).exists(_.contains("/mv")),
        "extra join condition must not be served")
    }
  }

  test("v4: composite-key star join (two equi pairs, one dim)") {
    val parent = freshDir("mv_comp")
    (1 to 300).map(i => (i.toLong % 10, i.toLong % 4, i.toLong))
      .toDF("fk1", "fk2", "v").write.parquet(s"$parent/fact")
    (for (a <- 0 until 10; b <- 0 until 4)
      yield (a.toLong, b.toLong, s"g${(a + b) % 5}"))
      .toDF("pk1", "pk2", "attr").write.parquet(s"$parent/dim")
    val fact = spark.read.parquet(s"$parent/fact")
    val dim = spark.read.parquet(s"$parent/dim")
    def joined = fact.join(dim,
      col("fk1") === col("pk1") && col("fk2") === col("pk2"))
    joined.groupBy("attr")
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v"))
      .write.parquet(s"$parent/mv")
    MvRewrite.serving(spark, "mv_comp") {
      MvRegistry.registerSnowflake(spark, "mv_comp", s"$parent/fact",
        Seq(s"$parent/dim" -> Seq("fk1" -> "pk1", "fk2" -> "pk2")),
        Seq("attr"), Seq(AggDef("cnt", "count", None),
          AggDef("sum_v", "sum", Some("v"))), s"$parent/mv")
    } {
      val q = joined.groupBy("attr").agg(sum(col("v")).as("s"))
      assert(scanRoots(q).exists(_.contains("/mv")),
        s"composite-key join must hit: ${scanRoots(q)}")
      val expect = (1 to 300).groupBy(i => s"g${(i % 10 + i % 4) % 5}")
        .map { case (g, is) => g -> is.map(_.toLong).sum }
      q.collect().foreach(r => assert(r.getLong(1) == expect(r.getString(0))))
      // HALF the composite key is a DIFFERENT join — must fall through
      val qh = fact.join(dim, col("fk1") === col("pk1"))
        .groupBy("attr").agg(sum(col("v")).as("s"))
      assert(!scanRoots(qh).exists(_.contains("/mv")),
        "half of a composite key must not be served")
    }
  }

  test("catalog-table anchor: spark.table(...) queries rewrite too") {
    val parent = freshDir("mv_cat")
    val tblName = s"mv_cat_docs_${java.lang.Long.toHexString(System.nanoTime)}"
    (1 to 200).map(i => (s"g${i % 4}", i.toLong)).toDF("g1", "v")
      .write.option("path", s"$parent/tbl").saveAsTable(tblName)
    val base = spark.table(tblName)
    base.groupBy("g1").agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v"))
      .write.parquet(s"$parent/mv")
    // registered by TABLE NAME, not path — both spellings must serve
    MvRewrite.serving(spark, "mv_cat") {
      MvRegistry.register(spark, "mv_cat", tblName, Seq("g1"),
        Seq(AggDef("cnt", "count", None), AggDef("sum_v", "sum", Some("v"))),
        s"$parent/mv")
    } {
      val q = spark.table(tblName).groupBy("g1").agg(sum(col("v")).as("s"))
      assert(scanRoots(q).exists(_.contains("/mv")),
        s"catalog-table query must hit the MV: ${scanRoots(q)}")
      val expect = (1 to 200).groupBy(i => s"g${i % 4}")
        .map { case (g, is) => g -> is.map(_.toLong).sum }
      q.collect().foreach(r => assert(r.getLong(1) == expect(r.getString(0))))
      // SQL spelling over the catalog table serves too
      val qs = spark.sql(s"SELECT g1, sum(v) AS s FROM $tblName GROUP BY g1")
      assert(scanRoots(qs).exists(_.contains("/mv")),
        s"SQL catalog query must hit the MV: ${scanRoots(qs)}")
      // an unrelated catalog table never matches
      val otherName = s"${tblName}_other"
      (1 to 10).map(i => (s"g${i % 4}", i.toLong * 100)).toDF("g1", "v")
        .write.option("path", s"$parent/other").saveAsTable(otherName)
      val qo = spark.table(otherName).groupBy("g1").agg(sum(col("v")).as("s"))
      assert(!scanRoots(qo).exists(_.contains("/mv")),
        "a different catalog table must not be claimed")
    }
  }

  test("catalog anchor is DATABASE-qualified: a same-named table in " +
      "another database never serves from the MV") {
    val parent = freshDir("mv_cat_db")
    val suffix = java.lang.Long.toHexString(System.nanoTime)
    val tblName = s"mv_db_docs_$suffix"
    val db = s"mv_db_other_$suffix"
    (1 to 100).map(i => (s"g${i % 4}", i.toLong)).toDF("g1", "v")
      .write.option("path", s"$parent/tbl").saveAsTable(tblName)
    spark.sql(s"CREATE DATABASE $db")
    // the OTHER database's table shares the bare name but not the data
    (1 to 10).map(i => (s"g${i % 4}", i.toLong * 1000)).toDF("g1", "v")
      .write.option("path", s"$parent/tbl2").saveAsTable(s"$db.$tblName")
    spark.table(tblName).groupBy("g1")
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v"))
      .write.parquet(s"$parent/mv")
    // registered BARE while `default` is current → pinned to default.<tbl>
    try MvRewrite.serving(spark, "mv_cat_db") {
      MvRegistry.register(spark, "mv_cat_db", tblName, Seq("g1"),
        Seq(AggDef("cnt", "count", None), AggDef("sum_v", "sum", Some("v"))),
        s"$parent/mv")
    } {
      // same database: serves
      val q = spark.table(tblName).groupBy("g1").agg(sum(col("v")).as("s"))
      assert(scanRoots(q).exists(_.contains("/mv")),
        s"same-db catalog query must hit the MV: ${scanRoots(q)}")
      // other database, same bare name: MUST run against its own data
      val qo = spark.table(s"$db.$tblName")
        .groupBy("g1").agg(sum(col("v")).as("s"))
      assert(!scanRoots(qo).exists(_.contains("/mv")),
        s"cross-database table was claimed by the MV: ${scanRoots(qo)}")
      val got = qo.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expect = (1 to 10).groupBy(i => s"g${i % 4}")
        .map { case (g, is) => g -> is.map(_.toLong * 1000).sum }
      assert(got == expect, s"cross-db query served wrong data: $got")
    } finally spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("quantile store serves bottom-k sketch aggregates: exact keys " +
      "project, subset keys merge; wrong k / wrong value col fall through") {
    import graft.functions.{QuantileSketch, TextFunctions}
    val parent = freshDir("mv_qsk")
    val base = (1 to 4000).map(i =>
      (s"g${i % 3}", s"s${i % 2}", s"id$i", i.toDouble))
      .toDF("g1", "sub", "id", "v")
    base.write.parquet(s"$parent/base")
    val k = 32
    val raw = spark.read.parquet(s"$parent/base")
    QuantileSketch.sketch(raw, Seq("g1", "sub"), col("id"), col("v"), k)
      .write.parquet(s"$parent/mv")
    MvRewrite.serving(spark, "mv_qsk") {
      MvRegistry.registerQuantile(spark, "mv_qsk", "base", Seq("g1", "sub"),
        "id", "v", k, s"$parent/mv")
    } {
      def skAgg(kk: Int) = QuantileSketch.bottomK(
        TextFunctions.hash64(col("id")), col("v"), kk)
      // exact keys: projection from the store, p50 estimate around the
      // sketch preserved verbatim
      val exact = raw.groupBy("g1", "sub").agg(skAgg(k).as("qsk"))
        .select(col("g1"), col("sub"),
          QuantileSketch.quantile(col("qsk"), 0.5).as("p50"))
      assert(scanRoots(exact).exists(_.contains("/mv")) &&
        !scanRoots(exact).exists(_.contains("/base")),
        s"exact-key sketch query must serve from the store: ${scanRoots(exact)}")
      // subset key: rollup merge — result equals the direct coarse sketch
      val rolled = raw.groupBy("g1").agg(skAgg(k).as("qsk"))
      assert(scanRoots(rolled).exists(_.contains("/mv")),
        s"subset-key sketch query must merge from the store: ${scanRoots(rolled)}")
      val direct = QuantileSketch.sketch(raw, Seq("g1"),
        col("id"), col("v"), k)
      assertSameRows(rolled, direct)
      // wrong k: a DIFFERENT sketch — must fall through to the base
      val wrongK = raw.groupBy("g1", "sub").agg(skAgg(16).as("qsk"))
      assert(!scanRoots(wrongK).exists(_.contains("/mv")),
        "a different-k sketch must not serve from the store")
      // wrong value column: must fall through
      val wrongV = raw.groupBy("g1", "sub").agg(QuantileSketch.bottomK(
        TextFunctions.hash64(col("id")), col("id").cast("double"), k).as("qsk"))
      assert(!scanRoots(wrongV).exists(_.contains("/mv")),
        "a different value column must not serve from the store")
    }
  }

  test("KMV store serves graft_kmv sketch aggregates; guards hold") {
    import graft.functions.{Kmv, TextFunctions}
    val parent = freshDir("mv_kmv")
    (1 to 500).map(i => (s"g${i % 4}", s"v${i % 37}")).toDF("g1", "s")
      .write.parquet(s"$parent/base")
    val base = spark.read.parquet(s"$parent/base")
    val k = 16
    graft.operators.Ivm.viewKmv(base, Seq("g1"), "s", k)
      .write.parquet(s"$parent/store")
    def sketchAgg(kk: Int) = base.groupBy("g1")
      .agg(Kmv.bottomK(TextFunctions.hash64(col("s")), kk).as("kmv"))
    // the direct computation, outside the scope (rule off)
    val direct = sketchAgg(k)
      .select(col("g1"), size(col("kmv")).as("n"),
        Kmv.estimate(col("kmv"), k).as("est")).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    MvRewrite.serving(spark, "mv_kmv") {
      MvRegistry.registerKmv(spark, "mv_kmv", s"$parent/base", Seq("g1"),
        "s", k, s"$parent/store")
    } {
      val q = sketchAgg(k)
        .select(col("g1"), size(col("kmv")).as("n"),
          Kmv.estimate(col("kmv"), k).as("est"))
      assert(scanRoots(q).exists(_.contains("/store")),
        s"sketch agg must serve from the store: ${scanRoots(q)}")
      assert(!scanRoots(q).exists(_.contains("/base")))
      // content identical to the direct computation
      q.collect().foreach { r =>
        assert(direct(r.getString(0)) == ((r.getInt(1), r.getDouble(2))), r)
      }
      // WHERE on the grouping key commutes
      val qf = base.where(col("g1") === "g1").groupBy("g1")
        .agg(Kmv.bottomK(TextFunctions.hash64(col("s")), k).as("kmv"))
      assert(scanRoots(qf).exists(_.contains("/store")),
        s"key-filtered sketch agg must serve: ${scanRoots(qf)}")
      // guards: wrong k / different hash input / count(distinct) without
      // the opt-in all fall through to the base
      assert(!scanRoots(sketchAgg(8)).exists(_.contains("/store")),
        "a different k must fall through")
      val qh = base.groupBy("g1")
        .agg(Kmv.bottomK(TextFunctions.hash64(concat(col("s"), lit("x"))), k)
          .as("kmv"))
      assert(!scanRoots(qh).exists(_.contains("/store")),
        "a different hashed expression must fall through")
      val qd = base.groupBy("g1").agg(countDistinct(col("s")).as("d"))
      assert(!scanRoots(qd).exists(_.contains("/store")),
        "count(distinct) without serveExactDistinct must fall through")
    }
  }

  test("KMV exact arm: count(DISTINCT v) == size(kmv) under the underfull contract") {
    import graft.functions.{Kmv, TextFunctions}
    val parent = freshDir("mv_kmv_ex")
    // 4 groups × ≤13 distinct values, k = 32 → every sketch underfull
    (1 to 400).map(i => (s"g${i % 4}", s"v${i % 13}")).toDF("g1", "s")
      .write.parquet(s"$parent/base")
    val base = spark.read.parquet(s"$parent/base")
    val k = 32
    graft.operators.Ivm.viewKmv(base, Seq("g1"), "s", k)
      .write.parquet(s"$parent/store")
    MvRewrite.serving(spark, "mv_kmv_ex") {
      MvRegistry.registerKmv(spark, "mv_kmv_ex", s"$parent/base", Seq("g1"),
        "s", k, s"$parent/store", serveExactDistinct = true)
    } {
      val q = base.groupBy("g1").agg(countDistinct(col("s")).as("d"))
      assert(scanRoots(q).exists(_.contains("/store")),
        s"exact-arm count(distinct) must serve: ${scanRoots(q)}")
      assert(!scanRoots(q).exists(_.contains("/base")))
      val expect = (1 to 400).groupBy(i => s"g${i % 4}")
        .map { case (g, is) => g -> is.map(_ % 13).distinct.size.toLong }
      q.collect().foreach(r => assert(r.getLong(1) == expect(r.getString(0)), r))
      // mixed with a non-servable aggregate → whole aggregate falls through
      val qm = base.groupBy("g1")
        .agg(countDistinct(col("s")).as("d"), max(col("s")).as("m"))
      assert(!scanRoots(qm).exists(_.contains("/store")),
        "an unservable sibling aggregate must veto the rewrite")
      // distinct on a DIFFERENT column falls through
      val qo = base.groupBy("g1").agg(countDistinct(col("g1")).as("d"))
      assert(!scanRoots(qo).exists(_.contains("/store")))
    }
  }

  test("KMV rollup arm: subset keys merge stored sketches; exact-distinct stays exact-match") {
    import graft.functions.{Kmv, TextFunctions}
    val parent = freshDir("mv_kmv_ru")
    (1 to 500).map(i => (s"g${i % 4}", s"h${i % 3}", s"v${i % 37}"))
      .toDF("g1", "g2", "s")
      .write.parquet(s"$parent/base")
    val base = spark.read.parquet(s"$parent/base")
    val k = 16
    graft.operators.Ivm.viewKmv(base, Seq("g1", "g2"), "s", k)
      .write.parquet(s"$parent/store")
    def sketchBy(cols: String*) = base.groupBy(cols.map(col): _*)
      .agg(Kmv.bottomK(TextFunctions.hash64(col("s")), k).as("kmv"))
    def filtered = base.where(col("g2") === "h1").groupBy("g1")
      .agg(Kmv.bottomK(TextFunctions.hash64(col("s")), k).as("kmv"))
    // the direct aggregates, outside the scope (rule off)
    val direct = sketchBy("g1")
      .select(col("g1"), col("kmv")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val gDirect = sketchBy().collect().head.getSeq[Long](0)
    val fDirect = filtered
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    MvRewrite.serving(spark, "mv_kmv_ru") {
      MvRegistry.registerKmv(spark, "mv_kmv_ru", s"$parent/base",
        Seq("g1", "g2"), "s", k, s"$parent/store", serveExactDistinct = true)
    } {
      // subset of the store keys → served by MERGING stored sketches
      val q = sketchBy("g1")
        .select(col("g1"), size(col("kmv")).as("n"),
          Kmv.estimate(col("kmv"), k).as("est"))
      assert(scanRoots(q).exists(_.contains("/store")),
        s"rollup sketch agg must serve from the store: ${scanRoots(q)}")
      assert(!scanRoots(q).exists(_.contains("/base")))
      // merged content bit-identical to the direct coarser aggregate
      val served = sketchBy("g1").select(col("g1"), col("kmv"))
      assert(scanRoots(served).exists(_.contains("/store")))
      served.collect().foreach { r =>
        assert(r.getSeq[Long](1) == direct(r.getString(0)),
          s"merged sketch differs from direct for ${r.getString(0)}")
      }
      // GLOBAL rollup (no grouping keys) serves and matches
      val g = sketchBy()
      assert(scanRoots(g).exists(_.contains("/store")),
        s"global sketch agg must serve: ${scanRoots(g)}")
      assert(g.collect().head.getSeq[Long](0) == gDirect)
      // exact-distinct arm must NOT serve under a rollup: per-group
      // underfull does not bound the union, size(merged) could truncate
      val qd = base.groupBy("g1").agg(countDistinct(col("s")).as("d"))
      assert(!scanRoots(qd).exists(_.contains("/store")),
        "count(distinct) under subset keys must fall through")
      // key-only WHERE on a rolled-away store key still commutes
      val qf = filtered
      assert(scanRoots(qf).exists(_.contains("/store")),
        s"filtered rollup must serve: ${scanRoots(qf)}")
      qf.collect().foreach { r =>
        assert(r.getSeq[Long](1) == fDirect(r.getString(0)))
      }
    }
  }

  test("versioned KMV store serves its refreshed sketch with no re-register") {
    import graft.functions.{Kmv, TextFunctions}
    import graft.sources.SnapshotLake
    val parent = freshDir("mv_kmv_ver")
    (1 to 300).map(i => (s"g${i % 3}", s"v${i % 11}")).toDF("g1", "s")
      .write.parquet(s"$parent/base")
    val base = spark.read.parquet(s"$parent/base")
    val k = 16
    val root = s"$parent/store"
    SnapshotLake.commit(
      graft.operators.Ivm.viewKmv(base, Seq("g1"), "s", k), root, 0L)
    MvRewrite.serving(spark, "mv_kmv_ver") {
      MvRegistry.registerKmv(spark, "mv_kmv_ver", s"$parent/base", Seq("g1"),
        "s", k, root)
    } {
      def q = base.groupBy("g1")
        .agg(Kmv.bottomK(TextFunctions.hash64(col("s")), k).as("kmv"))
        .select(col("g1"), size(col("kmv")).as("n"))
      assert(scanRoots(q).exists(_.stripSuffix("/").endsWith("/v0")))
      val v0 = q.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      // IVM refresh with genuinely new distincts, committed as v1
      val delta = base.limit(50).select(col("g1"), lit("I").as("op"),
        concat(col("s"), lit("_new")).as("new_v"))
      SnapshotLake.commit(graft.operators.Ivm.applyDeltaKmv(
        SnapshotLake.read(spark, root), delta, Seq("g1"), k), root, 1L)
      assert(scanRoots(q).exists(_.stripSuffix("/").endsWith("/v1")),
        s"must serve the refreshed v1: ${scanRoots(q)}")
      q.collect().foreach { r =>
        assert(r.getInt(1) >= v0(r.getString(0)),
          "refreshed sketches can only grow")
      }
    }
  }

  test("global count(*) over zero matching groups returns 0, not NULL") {
    withMv { (mvDir, base) =>
      // no GROUP BY + a key filter matching NOTHING: the original plan
      // returns one row with count=0; the count rollup arm must Coalesce
      // Sum(partial counts) to 0 or the rewrite silently answers NULL
      val q = base.where(col("g1") === "nope")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      assert(scanRoots(q).exists(_.contains(mvDir)),
        s"global agg with key filter must serve from MV: ${scanRoots(q)}")
      val r = q.head
      assert(r.getLong(0) == 0L, s"count must be 0, got ${r.get(0)}")
      assert(r.isNullAt(1), "sum over empty stays NULL (matches original)")
      // non-empty global: values still correct
      val all = base.agg(count(lit(1)).as("n"), sum(col("v")).as("s")).head
      assert(all.getLong(0) == 300L && all.getLong(1) == (1 to 300).map(_.toLong).sum)
    }
  }

  test("relCache holds ONE entry per versioned store across refresh cycles") {
    import graft.sources.SnapshotLake
    val parent = freshDir("mv_cache")
    (1 to 60).map(i => (s"g${i % 3}", i.toLong)).toDF("g1", "v")
      .write.parquet(s"$parent/base")
    val base = spark.read.parquet(s"$parent/base")
    val root = s"$parent/store"
    SnapshotLake.commit(base.groupBy("g1")
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v")), root, 0L)
    val sizeBefore = MvRegistry.relCacheSize
    MvRewrite.serving(spark, "mv_cache") {
      MvRegistry.register(spark, "mv_cache", s"$parent/base", Seq("g1"),
        Seq(AggDef("cnt", "count", None), AggDef("sum_v", "sum", Some("v"))), root)
    } {
      def serve(): Unit = {
        val q = base.groupBy("g1").agg(sum(col("v")).as("s"))
        assert(scanRoots(q).exists(_.contains("/store/")), "must serve from MV")
        q.collect()
      }
      serve()
      // 3 refresh→serve cycles: a per-version cache would grow by one
      // analyzed plan per cycle; the path-keyed cache REPLACES the entry
      (1L to 3L).foreach { v =>
        SnapshotLake.commit(
          spark.read.parquet(SnapshotLake.versionPath(root, v - 1)), root, v)
        serve()
        assert(MvRegistry.relCacheSize == sizeBefore + 1,
          s"cache grew on refresh $v: ${MvRegistry.relCacheSize}")
      }
    }
    assert(MvRegistry.relCacheSize == sizeBefore,
      "deregister must drop the path's cached relation")
  }

  test("registerJoin publishes atomically: plain fact agg never served mid-register") {
    // buildDef constructs the COMPLETE MvDef (incl. JoinDef) before the one
    // views.put — verified structurally: immediately after registerJoin
    // returns, the def carries its join, and no name is ever visible with
    // join = None (the old two-put window served fact-only aggregates from
    // a join MV). The registry exposes `all`; assert the invariant there.
    val parent = freshDir("mv_atomic")
    (1 to 50).map(i => (i.toLong % 5, i.toLong)).toDF("fk", "v")
      .write.parquet(s"$parent/fact")
    (0 until 5).map(p => (p.toLong, s"a$p")).toDF("pk", "attr")
      .write.parquet(s"$parent/dim")
    val fact = spark.read.parquet(s"$parent/fact")
    val dim = spark.read.parquet(s"$parent/dim")
    fact.join(dim, col("fk") === col("pk")).groupBy("attr")
      .agg(count(lit(1)).as("cnt")).write.parquet(s"$parent/mv")
    MvRewrite.serving(spark, "mv_atomic") {
      MvRegistry.registerJoin(spark, "mv_atomic", s"$parent/fact",
        s"$parent/dim", "fk", "pk", Seq("attr"),
        Seq(AggDef("cnt", "count", None)), s"$parent/mv")
    } {
      val d = MvRegistry.all.find(_.name == "mv_atomic").get
      assert(d.join.isDefined, "JoinDef must be visible with the first put")
    }
  }

  test("deregistered view no longer rewrites") {
    val paths = withMv { (_, base) => // registry emptied when withMv's scope ends
      base
    }
    val q = paths.groupBy("g1", "g2").agg(sum(col("v")).as("s"))
    assert(!scanRoots(q).exists(_.contains("mv_view")))
  }

  test("join MV with min/max serves rollups: min-of-mins over the group-sized store") {
    val parent = freshDir("mv_jf")
    (1 to 400).map(i => (i.toLong, (i % 97).toLong * 3L))
      .toDF("fk", "v").write.parquet(s"$parent/fact")
    (1 to 400).map(i => (i.toLong, s"g${i % 4}", s"s${i % 10}"))
      .toDF("pk", "grp", "sub").write.parquet(s"$parent/dim")
    val fact = spark.read.parquet(s"$parent/fact")
    val dim = spark.read.parquet(s"$parent/dim")
    graft.operators.Ivm.viewJoinFull(fact, Seq(dim -> Seq("fk" -> "pk")),
        Seq("grp", "sub"), "v")
      .write.parquet(s"$parent/mv")
    def q() = fact.join(dim, col("fk") === col("pk"))
      .groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
    // the direct rollup, outside the scope (rule off)
    val direct = q().collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    MvRewrite.serving(spark, "mv_jf") {
      MvRegistry.registerJoin(spark, "mv_jf", s"$parent/fact", s"$parent/dim",
        "fk", "pk", Seq("grp", "sub"),
        Seq(AggDef("cnt", "count", None),
          AggDef("sum_v", "sum", Some("v")),
          AggDef("min_v", "min", Some("v")),
          AggDef("max_v", "max", Some("v"))), s"$parent/mv")
    } {
      val served = q()
      assert(scanRoots(served).forall(_.contains("/mv")) &&
        scanRoots(served).nonEmpty,
        s"coarser min/max rollup must serve from the join MV: ${scanRoots(served)}")
      val got = served.collect()
        .map(r => r.getString(0) -> r.toSeq.tail).toMap
      assert(got == direct, s"$got vs $direct")
    }
  }

  test("CMS store serves re-stated sketch builds; geometry/value/key guards hold") {
    import graft.functions.Cms
    val parent = freshDir("mv_cms")
    (1 to 600).map(i => (s"g${i % 3}", s"x${i % 5}", s"v${i % 23}"))
      .toDF("g1", "g2", "s")
      .write.parquet(s"$parent/base")
    val base = spark.read.parquet(s"$parent/base")
    val (depth, width) = (4, 16)
    graft.operators.Ivm.viewCms(base, Seq("g1"), "s", depth, width)
      .write.parquet(s"$parent/store")
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.toSeq.init.mkString("|") -> r.getLong(r.length - 1))
      .sortBy(_._1).toSeq
    val terms = Seq("v1", "v7", "zzz").toDF("term")
    def estimate = Cms.pointEstimate(
      Cms.build(base, Seq.empty, col("s"), depth, width),
      terms, "term", depth, width)
    // the direct builds, outside the scope (rule off)
    val exactCells = cells(Cms.build(base, Seq("g1"), col("s"), depth, width))
    val globalCells = cells(Cms.build(base, Seq.empty, col("s"), depth, width))
    val directEst = estimate.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    MvRewrite.serving(spark, "mv_cms") {
      MvRegistry.registerCms(spark, "mv_cms", s"$parent/base", Seq("g1"), "s",
        depth, width, s"$parent/store")
    } {
      // exact keys: a re-stated build projects the store, base gone
      val exact = Cms.build(base, Seq("g1"), col("s"), depth, width)
      assert(scanRoots(exact).exists(_.contains("/store")) &&
        !scanRoots(exact).exists(_.contains("/base")),
        s"exact-key build must serve from the store: ${scanRoots(exact)}")
      assert(cells(exact) == exactCells)
      // subset (here: global) keys: cells re-aggregate by sum — equal to
      // the direct coarser build bit-for-bit
      val global = Cms.build(base, Seq.empty, col("s"), depth, width)
      assert(scanRoots(global).exists(_.contains("/store")) &&
        !scanRoots(global).exists(_.contains("/base")),
        s"global build must roll up from the store: ${scanRoots(global)}")
      assert(cells(global) == globalCells)
      // a downstream estimate probe composes on the served relation
      val est = estimate
      assert(!scanRoots(est).exists(_.contains("/base")),
        s"estimate over a served build must not scan the base: ${scanRoots(est)}")
      val servedEst = est.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(servedEst == directEst, s"$servedEst vs $directEst")
      // guards: different geometry, different value column, and a
      // grouping key the store does not carry all fall through
      for ((label, q) <- Seq(
        "width" -> Cms.build(base, Seq("g1"), col("s"), depth, 8),
        "depth" -> Cms.build(base, Seq("g1"), col("s"), 2, width),
        "value" -> Cms.build(base, Seq("g1"), col("g2"), depth, width),
        "keys" -> Cms.build(base, Seq("g2"), col("s"), depth, width)))
        assert(!scanRoots(q).exists(_.contains("/store")),
          s"$label mismatch must fall through to the base")
    }
  }


  /** A small MV over a fresh base: (base dir, MV dir, the base). */
  private def smallMv(tag: String): (String, String, org.apache.spark.sql.DataFrame) = {
    val parent = freshDir(tag)
    (1 to 60).map(i => (s"g${i % 3}", i.toLong)).toDF("g1", "v")
      .write.parquet(s"$parent/base")
    val base = spark.read.parquet(s"$parent/base")
    base.groupBy("g1").agg(sum(col("v")).as("sum_v")).write.parquet(s"$parent/mv")
    (s"$parent/base", s"$parent/mv", base)
  }

  test("a scope that throws leaves no view registered and the rules as they were") {
    val (baseDir, mvDir, base) = smallMv("mv_throw")
    def register(name: String): Unit = MvRegistry.register(spark, name, baseDir,
      Seq("g1"), Seq(AggDef("sum_v", "sum", Some("v"))), mvDir)
    val before = spark.experimental.extraOptimizations
    assert(MvRegistry.isEmpty, s"a view leaked into this test: ${MvRegistry.all.map(_.name)}")
    // a refresh that fails after the registration
    intercept[IllegalStateException] {
      MvRewrite.serving(spark, "mv_throw_refresh") {
        register("mv_throw_refresh")
        throw new IllegalStateException("refresh failed")
      }(fail("the body must not run after a failed refresh"))
    }
    assert(MvRegistry.isEmpty)
    assert(spark.experimental.extraOptimizations == before)
    // a body that fails while the rule is live
    intercept[IllegalStateException] {
      MvRewrite.serving(spark, "mv_throw_body")(register("mv_throw_body")) {
        assert(scanRoots(base.groupBy("g1").agg(sum(col("v")).as("s")))
          .exists(_.contains(mvDir)), "the view must serve inside the scope")
        throw new IllegalStateException("body failed")
      }
    }
    assert(MvRegistry.isEmpty)
    assert(spark.experimental.extraOptimizations == before)
    assert(!scanRoots(base.groupBy("g1").agg(sum(col("v")).as("s")))
      .exists(_.contains(mvDir)), "the view still serves after its scope")
  }

  test("a scope in a session that already holds an MvRewrite adds none and keeps it") {
    val (baseDir, mvDir, base) = smallMv("mv_held")
    val before = spark.experimental.extraOptimizations
    val held = MvRewrite()
    spark.experimental.extraOptimizations = before :+ held
    try {
      MvRewrite.serving(spark, "mv_held") {
        MvRegistry.register(spark, "mv_held", baseDir, Seq("g1"),
          Seq(AggDef("sum_v", "sum", Some("v"))), mvDir)
      } {
        val rules = spark.experimental.extraOptimizations.filter(_.isInstanceOf[MvRewrite])
        assert(rules.size == 1 && (rules.head eq held), rules)
        assert(scanRoots(base.groupBy("g1").agg(sum(col("v")).as("s")))
          .exists(_.contains(mvDir)), "the held rule must serve the view")
      }
      val after = spark.experimental.extraOptimizations
      assert(after.size == before.size + 1 && (after.last eq held),
        s"the held rule was removed or duplicated: $after")
      assert(MvRegistry.isEmpty)
    } finally spark.experimental.extraOptimizations = before
  }

  test("no fixture under queries/ serves an MV by hand") {
    // no allow-list: every served query runs in MvRewrite.serving and
    // reads its leaves through MvRewrite.scanRoots
    val hand = """experimental\.extraOptimizations\s*[+:]*=(?!=)|rootPaths|MvRegistry\.deregister""".r
    val fixtureName = """Fixture\(\s*"([a-z0-9_]+)"""".r
    val files = new java.io.File("src/main/scala/graft/queries").listFiles
      .filter(_.getName.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val offenders = files.flatMap { f =>
      val src = { val in = Source.fromFile(f, "UTF-8"); try in.mkString finally in.close() }
      hand.findAllMatchIn(src).map { m =>
        val fixture = fixtureName.findAllMatchIn(src.substring(0, m.start))
          .toSeq.lastOption.fold("?")(_.group(1))
        val line = src.substring(0, m.start).count(_ == '\n') + 1
        s"${f.getName}:$line $fixture: ${m.matched.trim}"
      }
    }
    assert(offenders.isEmpty, "MV serving by hand; use MvRewrite.serving and MvRewrite.scanRoots:\n" +
      offenders.mkString("\n"))
  }
}
