package graft.ml

import org.apache.spark.rdd.RDD

/** Preprocessor catalog mirroring the reference (PipelineMap.scala:67):
  * PolynomialFeatures, StandardScaler, MinMaxScaler. Each scaler's stats are
  * gathered with one distributed `treeAggregate` pass over the input rows
  * (map-side combine, log-depth merge — no driver bottleneck at scale);
  * PolynomialFeatures needs no pass. Transforms are pure per-row functions:
  * `Trainer.fit` applies the fitted chain once per row, in the `map` whose
  * output it persists for the round passes, and `FittedPipeline.predict`
  * applies it inside its prediction UDF.
  */
sealed trait FittedPreprocessor extends Serializable {
  def transform(x: Array[Double]): Array[Double]
}

final class FittedPolynomial(val degree: Int) extends FittedPreprocessor {
  /** x -> x ++ upper-triangular pairwise products (degree 2). */
  def transform(x: Array[Double]): Array[Double] = {
    if (degree < 2) return x
    val d = x.length
    val out = new Array[Double](d + d * (d + 1) / 2)
    System.arraycopy(x, 0, out, 0, d)
    var o = d; var i = 0
    while (i < d) {
      var j = i
      while (j < d) { out(o) = x(i) * x(j); o += 1; j += 1 }
      i += 1
    }
    out
  }
}

final class FittedStandardScaler(val mean: Array[Double], val std: Array[Double])
    extends FittedPreprocessor {
  def transform(x: Array[Double]): Array[Double] = {
    val out = new Array[Double](x.length)
    var i = 0
    while (i < x.length) {
      out(i) = if (std(i) > 0) (x(i) - mean(i)) / std(i) else x(i) - mean(i)
      i += 1
    }
    out
  }
}

final class FittedMinMax(val min: Array[Double], val max: Array[Double])
    extends FittedPreprocessor {
  def transform(x: Array[Double]): Array[Double] = {
    val out = new Array[Double](x.length)
    var i = 0
    while (i < x.length) {
      val r = max(i) - min(i)
      out(i) = if (r > 0) (x(i) - min(i)) / r else 0.0
      i += 1
    }
    out
  }
}

object Preprocess {
  val names: Set[String] = Set("PolynomialFeatures", "StandardScaler", "MinMaxScaler")

  /** Fit the preprocessor chain in order; each stage's stats are computed on
    * the output of the previous stages.
    */
  def fitChain(names: Seq[String], data: RDD[(Array[Double], Double)]): Seq[FittedPreprocessor] = {
    var fitted = Vector.empty[FittedPreprocessor]
    names.foreach { nm =>
      val cur = fitted
      val stage: FittedPreprocessor = nm match {
        case "PolynomialFeatures" => new FittedPolynomial(2)
        case "StandardScaler" =>
          val stats = data.treeAggregate[WelfordAgg](null)(
            (agg, p) => WelfordAgg.add(agg, applyChain(cur, p._1)),
            (a, b) => WelfordAgg.merge(a, b))
          new FittedStandardScaler(stats.mean, stats.std)
        case "MinMaxScaler" =>
          val (mins, maxs) = data.treeAggregate[(Array[Double], Array[Double])](null)(
            (agg, p) => {
              val x = applyChain(cur, p._1)
              if (agg == null) (x.clone(), x.clone())
              else {
                var i = 0
                while (i < x.length) {
                  if (x(i) < agg._1(i)) agg._1(i) = x(i)
                  if (x(i) > agg._2(i)) agg._2(i) = x(i)
                  i += 1
                }
                agg
              }
            },
            (a, b) =>
              if (a == null) b else if (b == null) a
              else {
                var i = 0
                while (i < a._1.length) {
                  if (b._1(i) < a._1(i)) a._1(i) = b._1(i)
                  if (b._2(i) > a._2(i)) a._2(i) = b._2(i)
                  i += 1
                }
                a
              })
          new FittedMinMax(mins, maxs)
        case other => throw new IllegalArgumentException(s"unknown preprocessor: $other")
      }
      fitted = fitted :+ stage
    }
    fitted
  }

  def applyChain(chain: Seq[FittedPreprocessor], x: Array[Double]): Array[Double] =
    chain.foldLeft(x)((v, p) => p.transform(v))
}

/** Distributed Welford mean/variance accumulator. */
final class WelfordAgg(val n: Array[Long], val mean: Array[Double], val m2: Array[Double])
    extends Serializable {
  def std: Array[Double] =
    Array.tabulate(mean.length)(i => if (n(i) > 1) math.sqrt(m2(i) / (n(i) - 1)) else 0.0)
}

object WelfordAgg {
  def add(agg: WelfordAgg, x: Array[Double]): WelfordAgg = {
    val a = if (agg == null)
      new WelfordAgg(new Array[Long](x.length), new Array[Double](x.length),
        new Array[Double](x.length))
    else agg
    var i = 0
    while (i < x.length) {
      a.n(i) += 1
      val d = x(i) - a.mean(i)
      a.mean(i) += d / a.n(i)
      a.m2(i) += d * (x(i) - a.mean(i))
      i += 1
    }
    a
  }
  def merge(a: WelfordAgg, b: WelfordAgg): WelfordAgg = {
    if (a == null) return b
    if (b == null) return a
    var i = 0
    while (i < a.mean.length) {
      val nA = a.n(i); val nB = b.n(i)
      if (nB > 0) {
        val nT = nA + nB
        val d = b.mean(i) - a.mean(i)
        a.mean(i) = (nA * a.mean(i) + nB * b.mean(i)) / nT
        a.m2(i) += b.m2(i) + d * d * nA * nB / nT
        a.n(i) = nT
      }
      i += 1
    }
    a
  }
}
