package perfbench

import java.nio.file.{Files, Path}

/** Brute-force recomputation of a /search answer over the generated CSV,
  * written from the engine's documented semantics, not from its code
  * paths: per attribute the distance to the query value over every entity
  * (after the attribute's filter), the top-M by (distance, id) with
  * M = 1000·k for multi-attribute queries and k otherwise, scale = k times
  * the k-th distance (1.0 when that is 0), exponential decay (a Jaccard
  * distance of exactly 1 scores 0), exact scores over the union of the
  * top-M lists (a missing attribute scores 0), the weighted mean rounded
  * half-up to 6 decimals, and ranks by (score desc, id asc). */
object SearchOracle {

  val Decay = 0.05
  val Inflation = 1000

  /** Entities sorted by id string, so index order is the id tie-break. */
  final class Data(val ids: Array[String], val priceTxt: Array[String],
      val date: Array[String], val dateMs: Array[Double], val prio: Array[String],
      val lonTxt: Array[String], val latTxt: Array[String], val name: Array[String]) {
    val n: Int = ids.length
    val price: Array[Double] = priceTxt.map(_.toDouble)
    val lon: Array[Double] = lonTxt.map(_.toDouble)
    val lat: Array[Double] = latTxt.map(_.toDouble)
    lazy val prioTokens: Array[Set[String]] = prio.map(tokens(_, "-"))
    lazy val nameGrams: Array[Array[String]] = name.map(grams)
    def valueOf(attr: Int, e: Int): String = attr match {
      case 0 => priceTxt(e)
      case 1 => date(e)
      case 2 => prio(e)
      case 3 => s"POINT(${lonTxt(e)} ${latTxt(e)})"
      case 4 => name(e)
    }
  }

  def tokens(s: String, delim: String): Set[String] =
    s.split(java.util.regex.Pattern.quote(delim)).map(_.trim).filter(_.nonEmpty).toSet

  def grams(s: String): Array[String] =
    (if (s.length < 3) Seq(s) else s.sliding(3).toSeq).distinct.toArray

  /** Reads the per-attribute CSVs of `dir` (same ids, same order). */
  def load(dir: Path): Data = {
    def rows(file: String): IndexedSeq[Array[String]] = {
      val lines = Files.readAllLines(dir.resolve(file))
      (1 until lines.size).map(i => lines.get(i).split(",", -1))
    }
    val price = rows("price.csv")
    val date = rows("date.csv")
    val prio = rows("priority.csv")
    val loc = rows("location.csv")
    val name = rows("name.csv")
    val order = price.indices.sortBy(i => price(i)(0))
    def col(rs: IndexedSeq[Array[String]], c: Int) = order.map(i => rs(i)(c)).toArray
    new Data(col(price, 0), col(price, 1), col(date, 1),
      col(date, 1).map(d => java.time.LocalDate.parse(d).toEpochDay.toDouble * 86400000.0),
      col(prio, 1), col(loc, 1), col(loc, 2), col(name, 1))
  }

  private def jaccardDist(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains).toDouble
    val uni = a.size.toDouble + b.size.toDouble - inter
    1.0 - (if (uni == 0.0) 0.0 else inter / uni)
  }

  /** Distance of every entity to the condition's value; NaN = filtered out. */
  private def distances(d: Data, c: SearchServe.Cond): Array[Double] = {
    val out = new Array[Double](d.n)
    c.attr match {
      case 0 =>
        val q = c.value.toDouble
        var i = 0; while (i < d.n) { out(i) = math.abs(d.price(i) - q); i += 1 }
      case 1 =>
        val q = java.time.LocalDate.parse(c.value).toEpochDay.toDouble * 86400000.0
        var i = 0; while (i < d.n) { out(i) = math.abs(d.dateMs(i) - q); i += 1 }
      case 2 =>
        val q = tokens(c.value, "-")
        var i = 0; while (i < d.n) { out(i) = jaccardDist(d.prioTokens(i), q); i += 1 }
      case 3 =>
        val m = "POINT\\((\\S+) (\\S+)\\)".r
        val (qx, qy) = c.value match { case m(a, b) => (a.toDouble, b.toDouble) }
        var i = 0
        while (i < d.n) {
          val dx = d.lon(i) - qx; val dy = d.lat(i) - qy
          out(i) = math.sqrt(dx * dx + dy * dy); i += 1
        }
      case 4 =>
        val q = grams(c.value).toSet
        var i = 0
        while (i < d.n) {
          val g = d.nameGrams(i)
          val inter = g.count(q.contains).toDouble
          val uni = g.length.toDouble + q.size.toDouble - inter
          out(i) = 1.0 - (if (uni == 0.0) 0.0 else inter / uni)
          i += 1
        }
    }
    c.filterMin.foreach { t =>
      val v = if (c.attr == 0) d.price else d.dateMs
      var i = 0; while (i < d.n) { if (!(v(i) >= t)) out(i) = Double.NaN; i += 1 }
    }
    out
  }

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Expected answer: per weight combination, (id, score) in rank order. */
  def topK(d: Data, r: SearchServe.Req): Seq[Seq[(String, Double)]] = {
    val k = r.k
    val m = if (r.conds.size > 1) Inflation * k else k
    val dists = r.conds.map(c => distances(d, c))
    val scales = new Array[Double](r.conds.size)
    val cand = new java.util.BitSet(d.n)
    dists.zipWithIndex.foreach { case (ds, fi) =>
      // stable sort by distance over id-ordered indices = (d, id) order
      val idx = (0 until d.n).filter(i => !ds(i).isNaN).map(Integer.valueOf).toArray
      java.util.Arrays.sort(idx, (a: Integer, b: Integer) => java.lang.Double.compare(ds(a), ds(b)))
      val dk = idx.take(k).map(i => ds(i)).foldLeft(0.0)(math.max)
      scales(fi) = if (dk <= 0.0) 1.0 else k * dk
      idx.take(m).foreach(i => cand.set(i))
    }
    val jac = r.conds.map(c => c.attr == 2 || c.attr == 4)
    val combos = r.conds.map(_.weights.size).max
    val ws = r.conds.map(_.weights.map(_.toDouble)).map(w =>
      if (w.size == combos) w else Seq.fill(combos)(w.head))
    val cands = cand.stream().toArray
    (0 until combos).map { c =>
      val wc = ws.map(_(c))
      val scored = cands.map { e =>
        val sims = r.conds.indices.map { fi =>
          val dd = dists(fi)(e)
          if (dd.isNaN) 0.0
          else if (jac(fi) && dd == 1.0) 0.0
          else math.exp(-Decay * dd / scales(fi))
        }
        val num = wc.zip(sims).map { case (w, s) => w * s }.reduce(_ + _)
        (e, round6(num / wc.sum))
      }
      scored.sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
        .take(k).map { case (e, s) => (d.ids(e), s) }.toSeq
    }
  }

  def same(exp: Seq[Seq[(String, Double)]], got: Seq[Seq[(String, Double)]]): Boolean =
    exp.size == got.size && exp.zip(got).forall { case (e, g) =>
      e.size == g.size && e.zip(g).forall { case ((ei, es), (gi, gs)) =>
        ei == gi && math.abs(es - gs) <= 1e-9 }
    }
}
