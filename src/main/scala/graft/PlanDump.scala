package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

/** Physical plans of the registered queries over sf0.01.
  *
  *  - `PlanDump [name…]`: the formatted plan of each named query.
  *  - `PlanDump --census [name…]`: one line per query (default: every
  *    registered query) with its shuffle-exchange count, the
  *    partitioning of its final exchange, whether a computed projection
  *    runs below that exchange (for a range exchange, its sampling job
  *    and its map stage then both compute it), and the tables it scans.
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

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", false).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val census = args.headOption.contains("--census")
    val named = if (census) args.toSeq.tail else args.toSeq
    val names = if (named.nonEmpty) named
      else if (census) SparkEntry.queries.keys.toSeq.sorted
      else Seq("q03_projection", "q06_cube", "q09_ewma", "q17_cosine_topk", "q31_range")
    for (name <- names) {
      val q = SparkEntry.queries(name)(spark, dir)
      if (census) println(s"$name ${shape(q.queryExecution.executedPlan)}")
      else {
        println(s"=====PLAN $name")
        println(q.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    spark.stop()
  }
}
