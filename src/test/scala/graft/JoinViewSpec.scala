package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.CdcMerge
import graft.streaming.{JoinView, ManifestState}
import graft.streaming.JoinView.Side

/** The incremental join view must equal the naive re-join of the
  * current side states after EVERY batch — including join-key
  * changes, deletes, and resurrections (the interleavings where
  * delta-key IVM implementations typically go wrong).
  */
class JoinViewSpec extends SparkSpec {

  private val left = Side("uid", "dept", StructType.fromDDL("uid BIGINT NOT NULL, " +
    "dept STRING, name STRING, lsn BIGINT NOT NULL, ts_ms BIGINT NOT NULL, event_type STRING"))
  private val right = Side("did", "dept", StructType.fromDDL("did STRING, " +
    "dept STRING, dname STRING, lsn BIGINT NOT NULL, ts_ms BIGINT NOT NULL, event_type STRING"))

  // left side: employees (uid, dept, name); right side: one row per
  // dept (did == dept value domain), payload dname
  private def emp(uid: Long, dept: String, name: String, lsn: Long,
                  del: Boolean = false) =
    (uid, if (del) null else dept, if (del) null else name, lsn, lsn,
      if (del) "DELETE" else "UPSERT")

  private def dpt(did: String, dname: String, lsn: Long, del: Boolean = false) =
    (did, if (del) null else did, if (del) null else dname, lsn, lsn,
      if (del) "DELETE" else "UPSERT")

  private def empDf(rows: Seq[(Long, String, String, Long, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("uid", "dept", "name", "lsn", "ts_ms", "event_type")
  }

  private def dptDf(rows: Seq[(String, String, String, Long, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("did", "dept", "dname", "lsn", "ts_ms", "event_type")
  }

  private def check(dir: String, clue: String): Unit = {
    val got = JoinView.readView(spark, dir, left, right)
      .collect().map(_.toString).sorted.toSeq
    val want = JoinView.naiveView(spark, dir, left, right)
      .collect().map(_.toString).sorted.toSeq
    assert(got == want, s"$clue:\nview: $got\nnaive: $want")
  }

  test("directed: insert, join-key move, side deletes, resurrection") {
    val dir = Files.createTempDirectory("jv").toString

    // batch 1: two employees in eng, one in ops; both dept rows
    JoinView.applyBatch(spark,
      empDf(Seq(emp(1, "eng", "ada", 1), emp(2, "eng", "bob", 2), emp(3, "ops", "cyd", 3))),
      dptDf(Seq(dpt("eng", "Engineering", 1), dpt("ops", "Operations", 2))),
      dir, left, right, nBuckets = 1)
    check(dir, "initial build")
    assert(JoinView.readView(spark, dir, left, right).count() == 3)

    // batch 2: ada MOVES eng -> ops (old key loses a pair, new key
    // gains one); empty right delta
    JoinView.applyBatch(spark,
      empDf(Seq(emp(1, "ops", "ada", 4))),
      dptDf(Seq.empty), dir, left, right, nBuckets = 1)
    check(dir, "join-key move")
    assert(JoinView.readView(spark, dir, left, right)
      .filter(col("jk") === "ops").count() == 2)

    // batch 3: DELETE the eng dept row — bob's pair must vanish even
    // though bob's own row never changed
    JoinView.applyBatch(spark,
      empDf(Seq.empty), dptDf(Seq(dpt("eng", null, 5, del = true))),
      dir, left, right, nBuckets = 1)
    check(dir, "right-side delete")
    assert(JoinView.readView(spark, dir, left, right)
      .filter(col("jk") === "eng").count() == 0)

    // batch 4: resurrect eng with a new payload + tombstone employee 3
    JoinView.applyBatch(spark,
      empDf(Seq(emp(3, null, null, 6, del = true))),
      dptDf(Seq(dpt("eng", "Engineering v2", 7))),
      dir, left, right, nBuckets = 1)
    check(dir, "resurrect + left tombstone")
    val v = JoinView.readView(spark, dir, left, right).collect()
    assert(v.count(_.getAs[String]("jk") == "eng") == 1, v.mkString("\n")) // bob
    assert(!v.exists(_.getAs[Long]("uid") == 3L), "tombstoned employee still joined")
  }

  test("bucketed sink: random interleavings equal the naive re-join AND the plain sink") {
    val rnd = new Random(7)
    val depts = Vector("a", "b", "c", "d")
    val bRoot = Files.createTempDirectory("jvb-bucketed").toString
    var lsn = 0L
    def nextLsn(): Long = { lsn += 1; lsn }
    // the reference: a re-join of latest-wins over each side's deltas so
    // far — independent of every state under test
    var lSeen = Seq.empty[(Long, String, String, Long, Long, String)]
    var rSeen = Seq.empty[(String, String, String, Long, Long, String)]
    def liveSide(deltas: DataFrame, id: String) =
      CdcMerge.latestWins(deltas, Seq(id), Seq(col("lsn").desc, col("ts_ms").desc))
        .filter(col("event_type") =!= "DELETE")
        .withColumnRenamed("dept", "jk").filter(col("jk").isNotNull)
    def rejoin() = liveSide(empDf(lSeen), "uid").join(liveSide(dptDf(rSeen), "did"), Seq("jk"))
      .drop("event_type", "lsn", "ts_ms")
      .collect().map(_.toString).sorted.toSeq

    for (batch <- 1 to 8) {
      val lRows = (0 until rnd.nextInt(5)).map { _ =>
        val uid = rnd.nextInt(6).toLong
        if (rnd.nextDouble() < 0.2) emp(uid, null, null, nextLsn(), del = true)
        else emp(uid, depts(rnd.nextInt(depts.size)), s"n$uid", nextLsn())
      }
      val rRows = (0 until rnd.nextInt(3)).map { _ =>
        val did = depts(rnd.nextInt(depts.size))
        if (rnd.nextDouble() < 0.25) dpt(did, null, nextLsn(), del = true)
        else dpt(did, s"D-$did-$lsn", nextLsn())
      }
      JoinView.applyBatch(spark, empDf(lRows), dptDf(rRows),
        bRoot, left, right, nBuckets = 16)
      lSeen ++= lRows; rSeen ++= rRows

      val got = JoinView.readView(spark, bRoot, left, right)
        .collect().map(_.toString).sorted.toSeq
      val naive = JoinView.naiveView(spark, bRoot, left, right)
        .collect().map(_.toString).sorted.toSeq
      assert(got == naive, s"batch $batch: bucketed view != naive re-join")
      assert(got == rejoin(), s"batch $batch: bucketed view != re-join of the deltas")
    }

    // O(touched) rewrite: a single-id batch may supersede at most the
    // buckets that one id + its jk hash to — not the whole state
    val before = ManifestState.readManifest(s"$bRoot/left_id")
    JoinView.applyBatch(spark,
      empDf(Seq(emp(1, "a", "solo", nextLsn()))), dptDf(Seq.empty),
      bRoot, left, right, nBuckets = 16)
    val after = ManifestState.readManifest(s"$bRoot/left_id")
    val changed = after.buckets.filter { case (k, v) => before.buckets.get(k) != Some(v) }
    assert(changed.size == 1, s"single-id batch rewrote ${changed.size} id buckets")
  }

  test("bucketed sink: replay converges after a crash at EVERY patch prefix") {
    // A two-sided batch commits 5 manifest patches (left_jk, right_jk,
    // view, left_id, right_id). For each prefix length, apply a batch
    // that MOVES a join key, crash right after the Nth commit, replay
    // the whole batch (the at-least-once contract), and require the
    // view to equal the naive re-join. This is exactly the invariant
    // the commit order (id states LAST) exists for: a view-stale
    // moved-away key would survive forever if the id states committed
    // first, because the replay could no longer derive the old key.
    for (failAfter <- 1 to 5) {
      val root = Files.createTempDirectory(s"jvb-crash-$failAfter").toString
      // seed: u1 in dept a, u2 in dept b; both depts present
      JoinView.applyBatch(spark,
        empDf(Seq(emp(1, "a", "u1", 1), emp(2, "b", "u2", 2))),
        dptDf(Seq(dpt("a", "DA", 3), dpt("b", "DB", 4))),
        root, left, right, nBuckets = 16)

      // the crashing batch: u1 moves a -> b, dept a renamed (touches
      // both sides so all 5 patches run)
      val lRows = Seq(emp(1, "b", "u1-moved", 5))
      val rRows = Seq(dpt("a", "DA-renamed", 6))
      var patches = 0
      JoinView.onPatchCommitted = () => {
        patches += 1
        if (patches == failAfter) throw new RuntimeException(s"injected crash after patch $failAfter")
      }
      try {
        intercept[RuntimeException] {
          JoinView.applyBatch(spark, empDf(lRows), dptDf(rRows),
            root, left, right, nBuckets = 16)
        }
      } finally JoinView.onPatchCommitted = () => ()

      // replay the SAME batch in full
      JoinView.applyBatch(spark, empDf(lRows), dptDf(rRows),
        root, left, right, nBuckets = 16)
      val got = JoinView.readView(spark, root, left, right)
        .collect().map(_.toString).sorted.toSeq
      val naive = JoinView.naiveView(spark, root, left, right)
        .collect().map(_.toString).sorted.toSeq
      assert(got == naive, s"failAfter=$failAfter: replay left a stale view\n got=$got\n naive=$naive")
      // the moved-away key must be GONE: no u1 row joined to dept a
      assert(!got.exists(s => s.contains("u1") && s.contains("DA")),
        s"failAfter=$failAfter: stale moved-away row survived: $got")
    }
  }

  test("bucketed sink: the commit seam counts REAL commits only (no-op patches skipped)") {
    // a tombstone-only delta for never-seen ids produces an EMPTY Δjk
    // (no old rows to leave, no live rows to enter) — its jk patch and
    // the view patch are no-ops, and the crash-prefix seam must not
    // count them, or failAfter indices land on phantom boundaries
    val root = Files.createTempDirectory("jvb-seam").toString
    var patches = 0
    JoinView.onPatchCommitted = () => patches += 1
    try {
      // full two-sided batch: all 5 patches (left_jk, right_jk, view,
      // left_id, right_id) really commit
      JoinView.applyBatch(spark,
        empDf(Seq(emp(1, "a", "u1", 1))), dptDf(Seq(dpt("a", "DA", 2))),
        root, left, right, nBuckets = 16)
      assert(patches == 5, s"two-sided batch: expected 5 real commits, seam saw $patches")

      // tombstone-only left delta for a NEVER-seen id, empty right:
      // only the left_id patch commits (tombstone retained as fence);
      // jk and view patches are empty-delta no-ops
      patches = 0
      JoinView.applyBatch(spark,
        empDf(Seq(emp(99, null, null, 3, del = true))), dptDf(Seq.empty),
        root, left, right, nBuckets = 16)
      assert(patches == 1, s"tombstone-only batch: expected 1 real commit (left_id), seam saw $patches")
    } finally JoinView.onPatchCommitted = () => ()

    // and the view is still exactly the naive re-join
    val got = JoinView.readView(spark, root, left, right)
      .collect().map(_.toString).sorted.toSeq
    val naive = JoinView.naiveView(spark, root, left, right)
      .collect().map(_.toString).sorted.toSeq
    assert(got == naive, s"seam test left a wrong view\n got=$got\n naive=$naive")
  }

  test("property: random interleavings equal the naive re-join after every batch") {
    val rnd = new Random(42)
    val depts = Vector("a", "b", "c", "d")
    val dir = Files.createTempDirectory("jvp").toString
    var lsn = 0L
    def nextLsn(): Long = { lsn += 1; lsn }

    for (batch <- 1 to 8) {
      val lRows = (0 until rnd.nextInt(5)).map { _ =>
        val uid = rnd.nextInt(6).toLong
        if (rnd.nextDouble() < 0.2) emp(uid, null, null, nextLsn(), del = true)
        else emp(uid, depts(rnd.nextInt(depts.size)), s"n$uid", nextLsn())
      }
      val rRows = (0 until rnd.nextInt(3)).map { _ =>
        val did = depts(rnd.nextInt(depts.size))
        if (rnd.nextDouble() < 0.25) dpt(did, null, nextLsn(), del = true)
        else dpt(did, s"D-$did-$lsn", nextLsn())
      }
      JoinView.applyBatch(spark, empDf(lRows), dptDf(rRows), dir, left, right, nBuckets = 1)
      check(dir, s"batch $batch (lsn $lsn)")
    }
  }

  test("a root in the retired whole-snapshot layout is refused before any patch commits") {
    // the directory-swap layout kept each side and the view as plain
    // parquet dirs; a stranded swap backup holds the only copy of one
    for (legacy <- Seq("left", "right", "view", ".view.old")) {
      val root = Files.createTempDirectory("jv-legacy").toString
      if (legacy == "right") dptDf(Seq(dpt("a", "DA", 1))).write.parquet(s"$root/$legacy")
      else empDf(Seq(emp(1, "a", "u1", 1))).write.parquet(s"$root/$legacy")
      val e = intercept[IllegalArgumentException] {
        JoinView.applyBatch(spark,
          empDf(Seq(emp(2, "a", "u2", 2))), dptDf(Seq(dpt("a", "DA", 3))),
          root, left, right, nBuckets = 4)
      }
      assert(e.getMessage.contains("re-bootstrap"), e.getMessage)
      val committed = Seq("left_id", "right_id", "left_jk", "right_jk", "view")
        .filter(d => Files.exists(java.nio.file.Paths.get(root, d, "MANIFEST")))
      assert(committed.isEmpty, s"$legacy: committed $committed before refusing")
    }
  }
}
