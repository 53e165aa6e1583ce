package perfbench

import java.nio.file.Path

/** One closed-loop workload: a single client thread runs [[Op]]s back
  * to back; the next op is made only after the previous one returned. */
trait Workload {

  /** Builds the inputs from the seed and the program state under `dir`
    * (a fresh directory); may be called on a fresh instance only. */
  def build(dir: Path, t: Trace): Unit

  /** Makes the next op's input, untimed. Also advances the model the
    * op's output is checked against. */
  def next(): Op

  /** Between-op maintenance after op `i` (0-based, warm-up included);
    * timed into the window, not into op latency. */
  def maintain(i: Int, t: Trace): Unit = ()

  /** Untimed bookkeeping after each op (traced runs size state here). */
  def afterOp(t: Trace): Unit = ()

  /** Ops per rotation: a run stops only on a whole number of them. */
  def round: Int = 1

  /** Untimed warm-up ops run in set-up. */
  def warmOps: Int

  /** Whole-state check after the window; `corrupt` damages the
    * program's output first, and the check must then reject it. */
  def finalCheck(corrupt: Boolean): Option[String]

  /** Untimed clean-up before the state is sized (retention sweeps). */
  def beforeDisk(): Unit = ()

  /** The per-layer metrics of a traced run this workload drives, by
    * name (units are in [[Main.PerLayer]]). */
  def layers(t: Trace): Seq[(String, Double)]
}

/** One op: `run` is what is timed; `check` compares its output with
  * the benchmark's own computation; `corrupt` damages an output so the
  * self-test can show `check` rejects it. */
trait Op {
  def run(t: Trace): Any
  def check(out: Any): Option[String]
  def corrupt(out: Any): Any
}
