package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** A smoke size of every workload: every check must accept the
  * program's real outputs and reject a corrupted copy. The catalog's
  * outputs are written under `catalog-real` and `catalog-damaged` (with
  * the oracle SQL under `results`) and judged by `oracle.py`. */
object SelfTest {

  def run(spark: SparkSession, workdir: Path): Boolean = {
    val trace = new Trace(spark, enabled = false)
    val problems = Main.Workloads.flatMap { name =>
      val w = Main.workload(name, spark, seed = 7L, smoke = true)
      val state = workdir.resolve(s"selftest-$name")
      w.build(state, trace)
      val perOp = w match {
        case c: CatalogWorkload =>
          // judged by oracle.py after the JVM: real outputs must match the
          // oracle, every damaged one must not
          (0 until c.round).foreach(i => c.selfTestOp(i, workdir.resolve("catalog-real"),
            workdir.resolve("catalog-damaged"), trace))
          Nil
        case _ => (0 until 2 * w.round).flatMap { i =>
          val op = w.next()
          val out = op.run(trace)
          w.maintain(i, trace)
          op.check(out).map(m => s"$name op $i: real output rejected: $m").toSeq ++
            (if (op.check(op.corrupt(out)).isEmpty)
              Seq(s"$name op $i: corrupted output accepted") else Nil)
        }
      }
      val whole = if (w.isInstanceOf[CatalogWorkload]) Nil
        else w.finalCheck(corrupt = false).map(m => s"$name final: $m").toSeq ++
          (if (w.finalCheck(corrupt = true).isEmpty)
            Seq(s"$name final: corrupted state accepted") else Nil)
      Stats.deleteTree(state)
      System.err.println(s"[selftest] $name: ${if (perOp.isEmpty && whole.isEmpty) "ok"
        else "FAILED"}")
      perOp ++ whole
    }
    problems.foreach(p => System.err.println(s"[selftest] $p"))
    println(s"selftest: ${if (problems.isEmpty) "ok" else s"${problems.size} problems"}")
    problems.isEmpty
  }
}
