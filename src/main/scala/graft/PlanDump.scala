package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ConditionalExpression, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode, ProjectExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Physical plans of the registered queries over sf0.01.
  *
  *  - `PlanDump [name…]`: the formatted plan of each named query.
  *  - `PlanDump --census [name…]`: one line per query (default: every
  *    registered query) with its shuffle-exchange count, the
  *    partitioning of its final exchange, whether a computed projection
  *    runs below that exchange (for a range exchange, its sampling job
  *    and its map stage then both compute it), and the tables it scans.
  *  - `PlanDump --generators [name…]`: builds each query (default:
  *    every registered query), so the actions it runs while it is built
  *    (eager model fits) run too, and prints one line per computed
  *    expression that a `Project` or `Filter` evaluates above a
  *    `Generate` from the generator's input alone, in the optimized
  *    plan of each such action and of the query itself: `kernel` when
  *    it holds a [[graft.functions.Kernel]], else `trivial`. Such an
  *    expression runs once per generated row (the generator rule in
  *    the `Kernel` scaladoc).
  */
object PlanDump {

  /** What a census line reports about one physical plan. */
  case class Shape(exchanges: Int, finalExchange: Option[ShuffleExchangeExec],
      computedBelow: Boolean, scans: Seq[String]) {
    override def toString: String = {
      val fin = finalExchange.fold("none")(_.outputPartitioning match {
        case _: RangePartitioning => "range"
        case p => p.getClass.getSimpleName.stripSuffix("$")
          .replace("Partitioning", "").replace("Partition", "").toLowerCase
      })
      s"exchanges=$exchanges final=$fin computed_below=$computedBelow scans=${scans.mkString(",")}"
    }
  }

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _: ReusedExchangeExec => Nil // its exchange is counted where it first runs
    case other => other.children ++ other.subqueries
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)

  /** The census shape of `plan` (initial or final adaptive plan). The
    * final exchange is the topmost shuffle exchange when the root reaches
    * it through one-child nodes only.
    */
  def shape(plan: SparkPlan): Shape = {
    def top(p: SparkPlan): Option[ShuffleExchangeExec] = p match {
      case e: ShuffleExchangeExec => Some(e)
      case _ => children(p) match {
        case Seq(c) => top(c)
        case _ => None
      }
    }
    val finalExchange = top(plan)
    val computedBelow = finalExchange.exists(e => nodes(e.child).exists {
      case p: ProjectExec => p.projectList.exists {
        case _: Attribute | Alias(_: Attribute, _) => false
        case _ => true
      }
      case _ => false
    })
    val scans = nodes(plan).collect {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet")).mkString("+")
      case l: LeafExecNode if children(l).isEmpty && !l.isInstanceOf[ReusedExchangeExec] =>
        l.nodeName
    }
    val counted = scans.groupBy(identity).toSeq.sortBy(_._1).map {
      case (t, n) => if (n.size == 1) t else s"$t*${n.size}"
    }
    Shape(nodes(plan).count(_.isInstanceOf[ShuffleExchangeExec]), finalExchange,
      computedBelow, counted)
  }

  /** A computed expression evaluated above a generator (`node` is
    * `Project` or `Filter`) from the generator's input alone.
    */
  private[graft] case class AboveGenerator(node: String, expr: Expression) {
    def kernel: Boolean = expr.exists(_.isInstanceOf[graft.functions.Kernel])
    override def toString: String =
      s"${if (kernel) "kernel" else "trivial"} $node ${expr.sql}"
  }

  /** Every [[AboveGenerator]] of an optimized logical plan: in each
    * `Project`/`Filter` chain directly above a `Generate`, the largest
    * computed subexpressions that every row evaluates and that read
    * only (and at least one of) the generator child's columns.
    */
  private[graft] def aboveGenerators(plan: LogicalPlan): Seq[AboveGenerator] = {
    def generateBelow(p: LogicalPlan): Option[Generate] = p.children match {
      case Seq(g: Generate) => Some(g)
      case Seq(c @ (_: Project | _: Filter)) => generateBelow(c)
      case _ => None
    }
    plan.collectWithSubqueries { case p @ (_: Project | _: Filter) => p }.flatMap { p =>
      generateBelow(p).toSeq.flatMap { g =>
        def inputOnly(e: Expression): Seq[Expression] = e match {
          case _: Attribute => Nil
          case Alias(c, _) => inputOnly(c)
          case _ if e.references.nonEmpty && e.references.subsetOf(g.child.outputSet) => Seq(e)
          // a branch taken per generated row (CASE WHEN _pos = i …) is not run on every one
          case c: ConditionalExpression => c.alwaysEvaluatedInputs.flatMap(inputOnly)
          case _ => e.children.flatMap(inputOnly)
        }
        p.expressions.flatMap(inputOnly).map(AboveGenerator(p.nodeName, _))
      }
    }
  }

  /** Runs `body` and returns its value with the optimized plan of every
    * action it ran, in completion order.
    */
  private[graft] def capturePlans[T](spark: SparkSession)(body: => T): (T, Seq[LogicalPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.optimizedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      ListenerBridge.drain(spark.sparkContext)
      (out, plans.toArray(Array.empty[LogicalPlan]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", false).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val mode = args.headOption.filter(_.startsWith("--"))
    require(mode.forall(Set("--census", "--generators")), s"unknown mode ${mode.get}")
    val named = if (mode.isDefined) args.toSeq.tail else args.toSeq
    val names = if (named.nonEmpty) named
      else if (mode.isDefined) SparkEntry.queries.keys.toSeq.sorted
      else Seq("q03_projection", "q06_cube", "q09_ewma", "q17_cosine_topk", "q31_range")
    for (name <- names) {
      if (mode.contains("--generators")) {
        val (q, eager) = capturePlans(spark)(SparkEntry.queries(name)(spark, dir))
        (eager :+ q.queryExecution.optimizedPlan).flatMap(aboveGenerators)
          .map(_.toString).distinct.foreach(a => println(s"$name $a"))
        graft.core.OpCache.release()
        spark.catalog.clearCache()
      } else {
        val q = SparkEntry.queries(name)(spark, dir)
        if (mode.contains("--census")) println(s"$name ${shape(q.queryExecution.executedPlan)}")
        else {
          println(s"=====PLAN $name")
          println(q.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
      }
    }
    spark.stop()
  }
}
