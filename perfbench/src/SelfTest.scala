package perfbench

import graft.tables.Icebergish
import org.apache.spark.sql.functions.{col, lit}

/** Runs every workload at the tiny scale, untraced and traced, with all
  * checks on; then feeds each check one corrupted output and requires the
  * check to reject it. Exits non-zero on any failure.
  *
  *   perfbench.SelfTest --work <dir> --cache <dir>
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val work = m("work")
    val spark = Main.session(work)
    var failures = 0
    def expect(what: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    try {
      for (w <- Main.Workloads; trace <- Seq(false, true)) {
        val a = Main.Args(w, 7L, 0.0, trace, s"$work/$w-$trace", m("cache"), Scale.Tiny)
        val r = Main.run(spark, a, System.currentTimeMillis())
        expect(s"$w trace=$trace runs clean: ${r.take(160)}",
          r.contains("\"correct\": true") && r.contains("\"failed\": 0,"))
      }

      def ctx = new Ctx(spark, 11L, Scale.Tiny, m("cache"))
      def fresh[W <: Workload](w: W, name: String): W = { w.prepareOracle(); w.setup(s"$work/corrupt-$name"); w }

      // a dropped triple
      val kg = fresh(new KgWorkload(ctx, zipf = true), "kg")
      val root = kg.op(0, None).result.asInstanceOf[String]
      val table = Icebergish.read(spark, root)
      val first = table.head()
      val dropped = table.filter(!(col("subj") === first.getAs[String]("subj") && col("pred") === first.getAs[String]("pred") &&
        col("obj") === first.getAs[String]("obj") && col("doc_id") === first.getAs[String]("doc_id")))
      expect("kg check accepts the real output", kg.checkTable(table).isEmpty)
      expect("kg check rejects a dropped triple", kg.checkTable(dropped).isDefined)

      // a chunk committed twice
      val rs = fresh(new ResumeWorkload(ctx), "resume")
      rs.prepare(0)
      rs.op(0, None)
      val t = Icebergish.read(spark, s"$work/corrupt-resume/op-0/triples")
      expect("resume check accepts the real tables", rs.checkChunks(t).isEmpty)
      expect("resume check rejects a chunk committed twice",
        rs.checkChunks(t.unionByName(t.filter(col("chunk") === lit(rs.resumeChunk)))).isDefined)

      // a perturbed pair score, a repeated pair
      val dd = fresh(new DedupWorkload(ctx), "dedup")
      val droot = dd.op(0, None).result.asInstanceOf[String]
      val ng = dd.pairRows(Icebergish.read(spark, s"$droot/ngram").select("id_a", "id_b", "jaccard"))
      val mh = dd.pairRows(Icebergish.read(spark, s"$droot/minhash").select("id_a", "id_b", "est_jaccard"))
      expect("n-gram check accepts the real pairs", dd.checkNgram(ng).isEmpty)
      expect("minhash check accepts the real pairs", dd.checkMinhash(mh).isEmpty)
      val k = ng.length / 2
      expect("n-gram check rejects a perturbed score",
        dd.checkNgram(ng.updated(k, ng(k).copy(_3 = ng(k)._3 - 0.01))).isDefined)
      expect("n-gram check rejects a dropped pair", dd.checkNgram(ng.patch(k, Nil, 1)).isDefined)
      expect("minhash check rejects a repeated pair", dd.checkMinhash((mh :+ mh.last).sortBy(p => (p._1, p._2))).isDefined)
    } finally spark.stop()
    println(if (failures == 0) "selftest passed" else s"selftest FAILED: $failures checks")
    if (failures != 0) sys.exit(1)
  }
}
