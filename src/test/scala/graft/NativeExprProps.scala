package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** ScalaCheck invariants over the native Catalyst expressions: the fused
  * implementations must agree with their declarative/HOF formulations on
  * arbitrary inputs, and the PQ primitives must satisfy their algebraic
  * contracts. 10 cases per property — each case runs real Spark jobs. */
object NativeExprProps extends Properties("graft.nativeexprs") {
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkSpec.session
  import org.apache.spark.sql.functions._
  import graft.functions.VectorFunctions._

  private val token: Gen[String] = Gen.oneOf(
    "a", "b", "c", "dd", "ee", "xyz", "", "tok1", "tok2", "Zz")
  private val tokenLists: Gen[List[List[String]]] =
    Gen.listOfN(8, Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, token)))

  property("native shingle_set == HOF formulation on arbitrary token lists") =
    forAll(tokenLists) { lists =>
      import spark.implicits._
      val df = lists.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
        .toDF("id", "tokens")
      df.select(
        shingleSet(col("tokens")).as("native"),
        expr("""array_distinct(transform(
          |  sequence(0, greatest(size(tokens) - 3, 0)),
          |  i -> concat_ws(' ', slice(tokens, i + 1, 3))))""".stripMargin)
          .as("hof"))
        .filter(col("native") =!= col("hof")).count() == 0L
    }

  // multi-byte symbols (accented, combining, CJK, a 4-byte emoji) sort
  // by UTF-8 bytes, which is neither code-unit nor code-point order
  private val symbol: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf("a", "b", "c", "Zz", "é", "e\u0301", "ß", "中", "文",
      "日本", "\ud83d\ude00", ""),
    1 -> Gen.const(null))
  private val symbolLists: Gen[List[List[String]]] = Gen.listOfN(8,
    Gen.frequency(
      1 -> Gen.const(Nil),
      1 -> Gen.choose(1, 30).map(n => List.fill(n)("中")),
      6 -> Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, symbol))))

  property("native token_entropy == sorted-fold HOF, bit for bit") =
    forAll(symbolLists) { lists =>
      import spark.implicits._
      // fixed edge cases ride along with every generated case
      val all = List(Nil, List("x"), List("", ""), List("a", null, "a")) ++
        lists
      val df = all.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
        .toDF("id", "syms")
      // the fold verbatim as entropySignals ran it before the native
      // kernel (without the outer round)
      val hof = expr(
        """cast(0.0 as double) - aggregate(
          |  transform(array_sort(array_distinct(syms)),
          |            u -> size(filter(syms, x -> x = u))),
          |  cast(0.0 as double),
          |  (acc, cnt) -> acc
          |    + (cnt / cast(size(syms) as double))
          |      * log2(cnt / cast(size(syms) as double)))""".stripMargin)
      def bits(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
        if (r.isNullAt(i)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))
      df.select(tokenEntropy(col("syms")).as("native"), hof.as("hof"))
        .collect().forall(r => bits(r, 0) == bits(r, 1))
    }

  private val vec: Gen[List[Float]] =
    Gen.listOfN(16, Gen.choose(-100, 100).map(_ / 10.0f))
  private val vecs: Gen[List[List[Float]]] = Gen.listOfN(6, vec)

  property("vec_norm == sqrt(cosine-denominator identity): |v|^2 == dot(v,v)") =
    forAll(vec) { v =>
      import spark.implicits._
      val df = Seq(Tuple1(v.toArray)).toDF("v")
      val Array(norm, cos) = df.select(
          vecNorm(col("v")).as("n"), cosineSim(col("v"), col("v")).as("c"))
        .collect().flatMap(r => Array(r.getDouble(0), r.getDouble(1)))
      // self-cosine is 1 for nonzero vectors; norm agrees with manual sum
      val manual = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      math.abs(norm - manual) < 1e-9 &&
        (norm == 0.0 || math.abs(cos - 1.0) < 1e-12)
    }

  property("srp_signature == plain-Scala plane reference on arbitrary vectors") =
    forAll(vecs) { base =>
      import spark.implicits._
      val bands = 4
      val bits = 5
      val dim = 16
      // the reference draws the SAME fixed-seed sequence the expression does
      val rng = new scala.util.Random(4242)
      val planes = Array.fill(bands * bits * dim)(if (rng.nextBoolean()) 1.0f else -1.0f)
      def ref(v: List[Float]): Seq[Int] = Seq.tabulate(bands) { b =>
        (0 until bits).foldLeft(0) { (bucket, p) =>
          val off = (b * bits + p) * dim
          val dot = v.take(dim).zipWithIndex
            .map { case (x, i) => x.toDouble * planes(off + i) }.sum
          if (dot > 0) bucket | (1 << p) else bucket
        }
      }
      val df = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("id", "v")
      val got = df.select(col("id"),
          srpSignature(col("v"), bands, bits, dim).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      base.zipWithIndex.forall { case (v, i) => got(i.toLong) == ref(v) }
    }

  property("pq encode/lut/adc satisfy their contracts against a Scala reference") =
    forAll(vecs) { base =>
      import spark.implicits._
      val m = 4
      val k = 16
      val dim = 16
      val subDim = dim / m
      val rng = new scala.util.Random(7)
      val codebooks = Array.fill(m * k * subDim)((rng.nextInt(200) - 100) / 10.0f)
      val data = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
      val df = data.toDF("id", "v")
      val out = df.select(col("v"),
          pqEncode(col("v"), codebooks, m, k).as("codes"),
          pqLut(col("v"), codebooks, m, k).as("lut"))
        .select(col("v"), col("codes"), col("lut"),
          pqAdc(col("codes"), col("lut"), m, k).as("adc"))
        .collect()
      out.forall { r =>
        val v = r.getSeq[Float](0)
        val codes = r.getInt(1)
        val lut = r.getSeq[Double](2)
        val adc = r.getDouble(3)
        // adc == sum of the lut entries the codes select
        val manual = (0 until m)
          .map(mi => lut(mi * k + ((codes >>> (4 * mi)) & 15))).sum
        // each 4-bit code is the L2-argmin centroid (lowest index on ties)
        val codesOk = (0 until m).forall { mi =>
          val dists = (0 until k).map { ki =>
            (0 until subDim).map { d =>
              val diff = v(mi * subDim + d).toDouble -
                codebooks((mi * k + ki) * subDim + d)
              diff * diff
            }.sum
          }
          dists.indexOf(dists.min) == ((codes >>> (4 * mi)) & 15)
        }
        // each lut entry is the subspace dot product
        val lutOk = (0 until m).forall { mi =>
          (0 until k).forall { ki =>
            val dot = (0 until subDim).map { d =>
              v(mi * subDim + d).toDouble *
                codebooks((mi * k + ki) * subDim + d)
            }.sum
            math.abs(lut(mi * k + ki) - dot) < 1e-9
          }
        }
        math.abs(adc - manual) < 1e-12 && codesOk && lutOk
      }
    }

  // r14: the long-packed layout (m x ceil(log2(k)) > 32 bits — here
  // 8 x 5 = 40) against the same Scala reference. k=16 stays int-packed
  // and bit-identical to the historical layout (the two properties above
  // pin it); this one proves the packing generalization is sound where
  // the int would have wrapped.
  property("pq long-packed codes (k=32): encode/lut/adc contracts hold") =
    forAll(vecs) { base =>
      import spark.implicits._
      val m = 8
      val k = 32
      val dim = 16
      val subDim = dim / m
      val bits = 5
      val rng = new scala.util.Random(13)
      val codebooks = Array.fill(m * k * subDim)((rng.nextInt(200) - 100) / 10.0f)
      val df = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("id", "v")
      val out = df.select(col("v"),
          pqEncode(col("v"), codebooks, m, k).as("codes"),
          pqLut(col("v"), codebooks, m, k).as("lut"))
        .select(col("v"), col("codes"), col("lut"),
          pqAdc(col("codes"), col("lut"), m, k).as("adc"))
        .collect()
      out.forall { r =>
        val v = r.getSeq[Float](0)
        val codes = r.getLong(1)  // LongType past 32 packed bits
        val lut = r.getSeq[Double](2)
        val adc = r.getDouble(3)
        val manual = (0 until m)
          .map(mi => lut(mi * k + ((codes >>> (bits * mi)) & 31).toInt)).sum
        val codesOk = (0 until m).forall { mi =>
          val dists = (0 until k).map { ki =>
            (0 until subDim).map { d =>
              val diff = v(mi * subDim + d).toDouble -
                codebooks((mi * k + ki) * subDim + d)
              diff * diff
            }.sum
          }
          dists.indexOf(dists.min) == ((codes >>> (bits * mi)) & 31).toInt
        }
        math.abs(adc - manual) < 1e-12 && codesOk
      }
    }

  property("pq encode is deterministic and codes fit 4 bits per subspace") =
    forAll(vecs) { base =>
      import spark.implicits._
      val m = 4
      val k = 16
      val subDim = 4
      val rng = new scala.util.Random(11)
      val codebooks = Array.fill(m * k * subDim)((rng.nextInt(200) - 100) / 10.0f)
      val df = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("id", "v")
      val a = df.select(pqEncode(col("v"), codebooks, m, k).as("c"))
        .collect().map(_.getInt(0)).toSeq
      val b = df.select(pqEncode(col("v"), codebooks, m, k).as("c"))
        .collect().map(_.getInt(0)).toSeq
      a == b && a.forall(c => (c & 0xffff0000) == 0 || m > 4) &&
        a.forall(c => (0 until m).forall(mi => ((c >>> (4 * mi)) & 15) < k))
    }

  property("nearest_cells == sort_array-over-structs formulation, any probes") =
    forAll(vecs, Gen.choose(1, 6)) { (base, probes) =>
      import spark.implicits._
      // deterministic centroids, NON-consecutive ids (emptied-cell shape)
      val rng = new scala.util.Random(7)
      val cents: Seq[(Int, Seq[Float])] = (0 until 6).map(i =>
        (i * 3 + 1, Seq.fill(16)((rng.nextInt(200) - 100) / 10.0f)))
      val df = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("id", "embedding")
      val structs = cents.map { case (cid, v) =>
        struct(cosineSim(col("embedding"), typedLit(v)).as("sim"),
          lit(cid).as("cell"))
      }
      val legacy = df.select(col("id"), slice(
          sort_array(array(structs: _*), asc = false), 1, probes)
          .getField("cell").as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val native = df.select(col("id"),
          nearestCells(col("embedding"), cents.map(_._1),
            cents.flatMap(_._2), probes).as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      native == legacy
    }

  property("nearest_cells ranks non-finite similarities LAST (NaN-vector determinism)") =
    forAll(Gen.choose(1, 4)) { probes =>
      import spark.implicits._
      val rng = new scala.util.Random(23)
      val cents: Seq[(Int, Seq[Float])] = (0 until 6).map(i =>
        (i + 1, Seq.fill(16)((rng.nextInt(200) - 100) / 10.0f)))
      // a NaN component poisons every dot product → every sim normalizes
      // to -inf → pure id-desc tie-break, deterministically
      val nanVec = Array.fill(16)(Float.NaN)
      val df = Seq((0L, nanVec)).toDF("id", "embedding")
      val got = df.select(nearestCells(col("embedding"), cents.map(_._1),
          cents.flatMap(_._2), probes).as("cells"))
        .collect().head.getSeq[Int](0)
      got == cents.map(_._1).sorted.reverse.take(probes)
    }
}
