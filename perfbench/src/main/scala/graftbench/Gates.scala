package graftbench

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import graft.sources.PagesGen

/** One named output check; runs outside the timed region. */
final case class Gate(name: String, passed: Boolean, detail: String)

/** Golden outputs recomputed from the staged input. */
object Golden {

  def idOf(url: String): Long = url.substring(url.lastIndexOf("/p/") + 3).toLong

  /** Cluster-aware golden drop set: exact-text groups and near-dup edges
    * to their anchors form clusters, and only the min url of a cluster
    * survives; every other planted drop class drops unconditionally.
    * `rows` are the (url, text) pairs of one independently processed
    * slice (the whole input, or one Checkpointer day).
    */
  def dropSet(rows: Seq[(String, String)]): Set[String] = {
    val urlOfId = rows.map { case (u, _) => idOf(u) -> u }.toMap
    val parent = mutable.HashMap[String, String]()
    def find(u: String): String = {
      val p = parent.getOrElse(u, u)
      if (p == u) u else { val r = find(p); parent(u) = r; r }
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    rows.groupBy(_._2).values.filter(_.size > 1)
      .foreach(g => g.map(_._1).reduceLeft { (a, b) => union(a, b); b })
    rows.foreach { case (u, _) =>
      val id = idOf(u)
      if (PagesGen.errorClass(id) == "near_dup") {
        val anchor = PagesGen.cleanBaseAtOrAbove(id - math.floorMod(id, 97L) + 2)
        urlOfId.get(anchor).foreach(union(u, _))
      }
    }
    val dedupDropped = rows.map(_._1).groupBy(find).values
      .filter(_.size > 1).flatMap(_.sorted.drop(1))
    rows.iterator.map(_._1).filter { u =>
      val cls = PagesGen.errorClass(idOf(u))
      PagesGen.shouldDrop(cls) && cls != "near_dup" && cls != "duplication"
    }.toSet ++ dedupDropped
  }

  def scrubbed(text: String): String =
    graft.functions.Scrub.Patterns.foldLeft(text) { case (acc, (p, r)) => acc.replaceAll(p, r) }

  /** Drop-F1 of `dropped` (url → a rule that dropped it) against
    * `golden` over `all`; the detail names the rules behind false drops.
    */
  def dropF1(all: Iterable[String], golden: Set[String],
             dropped: Map[String, String]): (Double, String) = {
    var tp, fn = 0L
    val fpRules = mutable.Map[String, Int]().withDefaultValue(0)
    all.foreach { u =>
      (golden(u), dropped.get(u)) match {
        case (true, Some(_)) => tp += 1
        case (false, Some(rule)) => fpRules(rule) += 1
        case (true, None) => fn += 1
        case _ =>
      }
    }
    val fp = fpRules.values.sum
    val p = tp.toDouble / math.max(1, tp + fp)
    val r = tp.toDouble / math.max(1, tp + fn)
    val f1 = if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    val why = if (fpRules.isEmpty) "" else fpRules.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"$k:$v" }.mkString("; false drops by rule ", " ", "")
    (f1, f"F1=$f1%.4f tp=$tp fp=$fp fn=$fn$why")
  }

  /** Gates shared by every pipeline-shaped output: keep/drop partition
    * the input, and every kept text is the plain-JVM scrub of its input.
    */
  def outputGates(texts: Map[String, String], kept: Seq[(String, String)],
                  dropped: collection.Set[String]): Seq[Gate] = {
    val keptUrls = kept.map(_._1)
    val overlap = keptUrls.count(dropped)
    val covered = keptUrls.toSet ++ dropped
    val missing = texts.keysIterator.count(u => !covered(u))
    val badScrub = kept.par.filter { case (u, s) => texts.get(u).forall(t => scrubbed(t) != s) }.seq
    Seq(
      Gate("partition", overlap == 0 && missing == 0 && covered.size == texts.size,
        s"kept=${keptUrls.size} dropped=${dropped.size} input=${texts.size} " +
          s"overlap=$overlap missing=$missing"),
      Gate("scrub_identical", badScrub.isEmpty && kept.nonEmpty,
        s"${kept.size - badScrub.size}/${kept.size} kept texts byte-identical" +
          badScrub.headOption.map(b => s"; first mismatch ${b._1}").getOrElse("")))
  }
}
