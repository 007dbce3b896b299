package graft.ir

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.graft.{Bridge, KeptPlan}

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

/** The consumer plans of one compiled stream's pushed frames, each built
  * once: a file sink's lines, a subscriber's filtered JSON. A frame built
  * by `Engine.Run.frame` from a template is marked with that template and
  * the push's rows; a consumer of a marked frame asks [[PushPlans.run]]
  * for the kept plan of (template, consumer key) and runs it on the rows.
  * The key names what the consumer builds over the frame (a `SinkSpec`, a
  * channel and condition): equal keys must build equal plans.
  *
  * Each (template, key) keeps a pool of instances ([[Bridge.keptPlan]]).
  * A push checks one out, runs it and returns it, so concurrent pushes of
  * one stream never share an instance or its expression state; the pool
  * grows to the number of pushes that ran at once. A plan that cannot be
  * kept is remembered as such, and its consumer takes its own path on
  * every push. A consumer that fails to build (a condition naming a
  * missing field) throws, and nothing is kept.
  *
  * Dropped with the compiled stream that owns it, on a re-add or a remove.
  */
private[graft] final class PushPlans(spark: SparkSession, val placeholder: LocalRelation,
                                     builds: AtomicLong) {
  import PushPlans._

  private val entries = new ConcurrentHashMap[(LogicalPlan, Any), Entry]()

  /** Marks `frame`, built from `template` for a push of `rows`. */
  private[ir] def mark(frame: LogicalPlan, template: LogicalPlan, rows: Seq[InternalRow]): Unit =
    frame.setTagValue(Tag, Pushed(frame, this, template, rows))

  private def run[U](p: Pushed, key: Any, consumer: DataFrame => DataFrame)(
      use: (KeptPlan, Seq[InternalRow]) => U): Option[U] = {
    val k = (p.template, key)
    val entry = entries.get(k) match {
      // a template built anew per push (a custom action's changing plan)
      // would add an entry per push: past the bound, such frames go unkept
      case null if entries.size < MaxEntries => entries.computeIfAbsent(k, _ => new Entry)
      case e => e
    }
    if (entry == null || entry.unkept) None
    else Option(entry.idle.poll()).orElse {
      val built = Bridge.keptPlan(spark, p.template, _.data eq placeholder.data)(consumer)
      if (built.isEmpty) entry.unkept = true else builds.incrementAndGet()
      built
    }.map { plan =>
      val out = use(plan, p.rows)
      entry.idle.add(plan) // an instance whose run failed is dropped
      out
    }
  }
}

private[graft] object PushPlans {

  /** A frame's mark: the plan it was set on, so a frame built over a
    * marked one (a consumer's own projection, say) is not taken for it.
    */
  private final case class Pushed(frame: LogicalPlan, plans: PushPlans, template: LogicalPlan,
                                  rows: Seq[InternalRow])

  private val Tag = TreeNodeTag[Pushed]("graft.pushed")

  /** Most (template, key) entries one compiled stream keeps. */
  private val MaxEntries = 64

  private final class Entry {
    val idle = new ConcurrentLinkedQueue[KeptPlan]()
    @volatile var unkept = false
  }

  /** `use` of the kept plan `consumer` builds over `df` and the rows of
    * its push, when `df` is a marked pushed frame and that plan can be
    * kept; None otherwise, and the caller takes its own path.
    */
  def run[U](df: DataFrame, key: Any)(consumer: DataFrame => DataFrame)(
      use: (KeptPlan, Seq[InternalRow]) => U): Option[U] = {
    val logical = df.queryExecution.logical
    logical.getTagValue(Tag).filter(_.frame eq logical)
      .flatMap(p => p.plans.run(p, key, consumer)(use))
  }
}
