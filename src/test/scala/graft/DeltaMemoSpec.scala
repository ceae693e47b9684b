package graft

import java.nio.file.Files

import org.apache.spark.JobCount.{actionsOf, jobsOf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.sources.{ArtifactStore, RandomDataset}

/** A stored index reloaded from an [[ArtifactStore]] is served from the
  * driver memo under its store identity, and an index that
  * [[IndexAppend]] made from it is derived on the driver from the
  * memoized table plus the appended or deleted rows. Every derived search
  * must equal the forced-distributed search bit for bit ([[RouteCheck]])
  * and run no Spark job; the cases that cannot be mirrored (an appended id
  * that is already live) must collect their plan instead. */
class DeltaMemoSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkFixture.spark
  private def sc = spark.sparkContext

  Registry.init()

  private val k = 7
  private lazy val (train, testQ, _) = RandomDataset.dataset(spark, 800, 24, 16, 10, seed = 37)

  private def rowsOf(df: DataFrame, idCol: String): Seq[(Long, Array[Float])] =
    df.select(idCol, "vector").collect().toSeq
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)

  private lazy val baseRows = rowsOf(train, "id")
  /** 40 new rows next to base rows, so they show up in the results */
  private lazy val extra = baseRows.take(40).map { case (i, v) => (i + 10000, v.map(_ + 0.01f)) }
  private lazy val extraIds = extra.map(_._1).toSet
  private lazy val del = baseRows.map(_._1).filter(_ % 5 == 0)

  /** driver-side relations, as a client holds arriving rows */
  private def vectors(rows: Seq[(Long, Array[Float])], idCol: String = "id"): DataFrame =
    spark.createDataFrame(rows).toDF(idCol, "vector")
  private def ids(xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.toDF("id")
  }
  private lazy val queries =
    vectors(rowsOf(testQ, "qid") ++ extra.take(10).map { case (i, v) => (i - 5000, v) }, "qid")

  private final case class Fam(kind: String, params: Map[String, String]) {
    lazy val searcher: Searcher = Registry.searcher(kind, params, "l2")
    def build(rows: DataFrame): IndexArtifact =
      Registry.indexer(kind, params + ("seed" -> "42"), "l2").build(rows)
  }
  private val ivfParams = Map("nlist" -> "8", "nprobe" -> "3")
  private val fams = Seq(
    Fam("ivf", ivfParams),
    Fam("ivf_sq8", ivfParams),
    Fam("ivf_pq", ivfParams ++ Map("num_subspaces" -> "4", "num_centroids" -> "16",
      "residual" -> "true")),
    Fam("lsh", Map("num_tables" -> "4", "hash_size" -> "4")))

  private lazy val tmp = Files.createTempDirectory("delta-memo")
  override def afterAll(): Unit =
    org.apache.spark.network.util.JavaUtils.deleteRecursively(tmp.toFile)

  private def store(art: IndexArtifact, name: String): String = {
    val dir = tmp.resolve(name).toString
    ArtifactStore.save(art, dir, "l2", 16, 800, "fp", "cfg")
    dir
  }
  private def load(dir: String): IndexArtifact = ArtifactStore.load(spark, dir)._1

  /** Searches `art` on the default route, then forced distributed, and
    * asserts the same (qid, rank, id, dist bits); returns the jobs of the
    * default search and its rows. */
  private def served(f: Fam, art: IndexArtifact): (Int, Seq[(Long, Int, Long, Long)]) = {
    val (jobs, got) = jobsOf(sc)(RouteCheck.bits(f.searcher.search(art, queries, k), "dist"))
    val want = RouteCheck.distributed(
      RouteCheck.bits(f.searcher.search(art, queries, k), "dist"))
    assert(got.nonEmpty)
    assert(got == want, s"${f.kind}: memo rows differ from the distributed rows")
    (jobs, got)
  }

  /** `mutate` of a fresh reload of `dir`: no job in the mutation nor in the
    * search after it, and the distributed rows */
  private def derived(f: Fam, dir: String)(mutate: IndexArtifact => IndexArtifact)
      : Seq[(Long, Int, Long, Long)] = {
    val loaded = load(dir)
    val (mutateJobs, art) = jobsOf(sc)(mutate(loaded))
    assert(mutateJobs == 0, s"${f.kind}: $mutateJobs jobs to mutate a warm reload")
    val (jobs, rows) = served(f, art)
    assert(jobs == 0, s"${f.kind}: $jobs jobs to search a derived table")
    rows
  }

  private def append(rows: Seq[(Long, Array[Float])])(a: IndexArtifact) =
    IndexAppend.append(a, vectors(rows))
  private def delete(xs: Seq[Long])(a: IndexArtifact) = IndexAppend.delete(a, ids(xs))

  fams.foreach { f =>
    test(s"${f.kind}: a reloaded index serves its mutations from the memo ≡ distributed") {
      val dir = store(f.build(train), f.kind)
      val (warmJobs, base) = served(f, load(dir))
      assert(warmJobs > 0, "the first search collects the stored base")
      assert(served(f, load(dir)) == ((0, base)), "a reload is a memo hit")

      val appended = derived(f, dir)(append(extra))
      assert(appended.exists(r => extraIds(r._3)))
      val deleted = derived(f, dir)(delete(del))
      assert(!deleted.exists(r => del.contains(r._3)))
      assert(base.exists(r => del.contains(r._3)))
      val both = derived(f, dir)(delete(del) _ andThen append(extra))
      assert(both.exists(r => extraIds(r._3)) && !both.exists(r => del.contains(r._3)))
      // re-append of a deleted id, with another vector
      val back = del.head
      val reAppended = derived(f, dir)(delete(Seq(back)) _ andThen append(Seq(back -> extra.head._2)))
      assert(reAppended.exists(_._3 == back))
      // absent and null ids delete nothing
      assert(derived(f, dir) { a =>
        import spark.implicits._
        IndexAppend.delete(a, Seq(Some(99999L), None).toDF("id"))
      } == base)
      derived(f, dir)(append(extra.take(20)) _ andThen delete(del) andThen append(extra.drop(20)))
      // delete of ids appended earlier in the same chain
      val dropped = extra.take(5).map(_._1)
      val appendedThenDeleted = derived(f, dir)(append(extra) _ andThen delete(dropped))
      assert(!appendedThenDeleted.exists(r => dropped.contains(r._3)))
      assert(appendedThenDeleted.exists(r => extraIds(r._3)))

      // an appended id that is already live: the union's plan is collected
      val (liveJobs, _) = served(f, append(Seq(baseRows(3)._1 -> extra.head._2))(load(dir)))
      assert(liveJobs > 0)

      // an overwrite at the same directory is a new store identity
      val other = f.build(train.filter(col("id") % 2 === 0))
      store(other, f.kind)
      val (jobs, fresh) = served(f, load(dir))
      assert(jobs > 0 && fresh != base)
      assert(fresh == RouteCheck.bits(f.searcher.search(other, queries, k), "dist"))
      assert(!derived(f, dir)(delete(del)).exists(r => r._3 % 2 != 0))
    }
  }

  test("a derived ivf table equals the table a collect builds, array for array") {
    fams.filter(_.kind != "lsh").foreach { f =>
      val dir = store(f.build(train), s"${f.kind}-layout")
      served(f, load(dir))
      val art = (append(extra.take(20)) _ andThen delete(del) andThen append(extra.drop(20)))(
        load(dir))
      assert(served(f, art)._1 == 0)
      def same[A](a: Array[A], b: Array[A]) = assert(a.sameElements(b), f.kind)
      if (f.kind == "ivf") {
        val (d, c) = (LocalScan.vecTable(art.data, ivf = true).get,
          LocalScan.vecTable(art.data.select("*"), ivf = true).get)
        same(d.ids, c.ids); same(d.listOffsets, c.listOffsets)
        assert(d.dim == c.dim)
        same(d.flat.map(java.lang.Float.floatToRawIntBits), c.flat.map(java.lang.Float.floatToRawIntBits))
      } else {
        val (d, c) = (LocalScan.codeTable(art.data, ivf = true).get,
          LocalScan.codeTable(art.data.select("*"), ivf = true).get)
        same(d.ids, c.ids); same(d.listOffsets, c.listOffsets); same(d.codes, c.codes)
        assert(d.m == c.m)
      }
    }
  }

  test("lsh: a derived index holds its parent's base maps by reference") {
    val f = fams.find(_.kind == "lsh").get
    val numTables = f.params("num_tables").toInt
    val dir = store(f.build(train), "lsh-overlay")
    val loaded = load(dir)
    served(f, loaded)
    val parent = LshLocal.buckets(loaded.data, numTables).get
    val art = (append(extra) _ andThen delete(del))(load(dir))
    assert(served(f, art)._1 == 0)
    val child = LshLocal.buckets(art.data, numTables).get
    assert(child.base eq parent.base)
    assert(child.base.tables eq parent.base.tables)
    // the base is counted once; the overlay weighs what the delta does
    val overlay = LshLocal.bucketBytes(child) - parent.base.bytes
    assert(LshLocal.bucketBytes(parent) - parent.base.bytes < 64)
    assert(overlay > 8L * (extra.size + del.size) && overlay < parent.base.bytes / 4,
      s"overlay $overlay B against a base of ${parent.base.bytes} B")

    // a fine hash puts each row alone in its buckets: a query equal to a
    // deleted row shares a bucket only with that dead id, so it must take
    // the fallback, as the anti-joined relation's plan does
    val fine = Fam("lsh", Map("num_tables" -> "2", "hash_size" -> "16", "bucket_width" -> "0.5"))
    val fineDir = store(fine.build(train), "lsh-fine")
    val gone = baseRows.filter(r => del.contains(r._1)).take(8)
    val q = vectors(gone.map { case (i, v) => (i + 50000, v) }, "qid")
    fine.searcher.search(load(fineDir), q, k).collect()
    val mutated = delete(del)(load(fineDir))
    val (jobs, got) = jobsOf(sc)(RouteCheck.bits(fine.searcher.search(mutated, q, k), "dist"))
    assert(jobs == 0)
    assert(got == RouteCheck.distributed(RouteCheck.bits(fine.searcher.search(mutated, q, k), "dist")))
    assert(got.length == gone.length * k && !got.exists(r => del.contains(r._3)))
  }

  private def withCap[T](cap: Long)(body: => T): T = {
    val old = sys.props.get("graft.local.bytesCap")
    sys.props("graft.local.bytesCap") = cap.toString
    try body
    finally old match {
      case Some(v) => sys.props("graft.local.bytesCap") = v
      case None => sys.props -= "graft.local.bytesCap"
    }
  }

  Seq("ivf_sq8", "lsh").foreach { kind =>
    test(s"$kind: the store-keyed memo never holds more than bytesCap") {
      val f = fams.find(_.kind == kind).get
      val dirs = (0 until 3).map(i =>
        store(f.build(train.filter(col("id") % 3 =!= i)), s"lru-$kind-$i"))
      // what one index's entries weigh, under the default cap
      val before = LocalScan.storedBytes
      assert(served(f, load(dirs.head))._1 > 0)
      val one = LocalScan.storedBytes - before
      assert(one > 0)
      val cap = one * 3 / 2
      withCap(cap) {
        dirs.tail.foreach { d =>
          assert(served(f, load(d))._1 > 0)
          assert(LocalScan.storedBytes <= cap && LocalScan.storedBytes > 0)
        }
        // the first index was evicted: its reload collects again
        assert(served(f, load(dirs.head))._1 > 0)
        assert(LocalScan.storedBytes <= cap)
        assert(served(f, load(dirs.head))._1 == 0)
      }
    }
  }

  test("a delta off the driver, or a base over bytesCap, reads no delta rows") {
    val far = spark.range(0, 1000, 5).toDF("id")
    assert(!Regime.onDriver(far))
    /** the default search of `art` (mutated from a reload): it collects
      * its plan or runs distributed, reads nothing through a driver-row
      * probe, and equals the distributed rows */
    def collectsItsPlan(f: Fam, art: IndexArtifact): Seq[(Long, Int, Long, Long)] = {
      val (actions, (jobs, got)) =
        actionsOf(sc)(jobsOf(sc)(RouteCheck.bits(f.searcher.search(art, queries, k), "dist")))
      assert(jobs > 0, f.kind)
      assert(!actions.exists(a => a.contains("Regime.scala") || a.contains("Lineage.scala")),
        s"${f.kind}: ${actions.mkString(", ")}")
      assert(got == RouteCheck.distributed(
        RouteCheck.bits(f.searcher.search(art, queries, k), "dist")), f.kind)
      got
    }
    fams.foreach { f =>
      val dir = store(f.build(train), s"${f.kind}-far")
      served(f, load(dir))
      // the base is memoized, but the deleted ids are not on the driver
      val rows = collectsItsPlan(f, IndexAppend.delete(load(dir), far))
      assert(!rows.exists(_._3 % 5 == 0))
      // a stored base that was never searched, over the cap
      val big = store(f.build(train), s"${f.kind}-big")
      withCap(2000) {
        val loaded = load(big)
        collectsItsPlan(f, IndexAppend.delete(loaded, far))
        collectsItsPlan(f, delete(del)(loaded))
        collectsItsPlan(f, append(extra)(loaded))
      }
    }
  }
}
