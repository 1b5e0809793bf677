package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Session-extension registration for this library's custom expressions,
  * so SQL surfaces can use them too:
  *
  *   spark.sql.extensions=graft.plans.GraftExtensions   (at session build)
  * or
  *   GraftExtensions.register(spark)                    (on a live session)
  *
  * then: `SELECT array_dot_long(qa, qb) FROM ...`
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
  }
}

object GraftExtensions {
  /** Extract a required integer literal argument with the intended
    * error for every non-conforming shape (non-literal, non-numeric
    * foldable like a string — previously an opaque ClassCastException). */
  private def literalInt(e: Expression, what: String): Int = e match {
    case f if f.foldable => f.eval() match {
      case n: java.lang.Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got ${Option(other).getOrElse("NULL")}")
    }
    case other => throw new IllegalArgumentException(
      s"$what must be a literal, got $other")
  }

  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  // both SQL names build the one TopKPairs; the name pins the value type
  private def topKPairs(name: String, valueType: DataType) =
    fn(name, classOf[TopKPairs]) { children =>
      require(children.length == 3,
        s"$name takes (value ${valueType.sql}, id BIGINT, k INT)")
      require(!children(0).resolved || children(0).dataType == valueType,
        s"$name needs a ${valueType.sql} value, got ${children(0).dataType.sql}")
      // returned raw, like kmv_sketch_long: the analyzer wraps a bare
      // AggregateFunction in its AggregateExpression during resolution
      TopKPairs(children(0), children(1), literalInt(children(2), s"$name k"))
    }

  /** Every SQL function of this library — the one list both the session
    * extension and [[register]] install. */
  private val functions = Seq(
    fn("array_dot_long", classOf[ArrayDotLong]) { children =>
      require(children.length == 2, "array_dot_long takes exactly 2 arguments")
      ArrayDotLong(children.head, children(1))
    },
    fn("kmv_sketch_long", classOf[KmvSketchLong]) { children =>
      require(children.length == 2, "kmv_sketch_long takes (hash BIGINT, k INT)")
      KmvSketchLong(children.head, literalInt(children(1), "kmv_sketch_long k"))
    },
    fn("quantile_pair_sketch", classOf[QuantilePairSketch]) { children =>
      require(children.length == 3,
        "quantile_pair_sketch takes (hash BIGINT, value DOUBLE, k INT)")
      QuantilePairSketch(children(0), children(1),
        literalInt(children(2), "quantile_pair_sketch k"))
    },
    fn("cell_argmax_cosine_long", classOf[CellArgMaxCosineLong]) { children =>
      require(children.length == 5,
        "cell_argmax_cosine_long takes (q, qn2, cells, cqs, cn2s)")
      CellArgMaxCosineLong(children(0), children(1), children(2), children(3), children(4))
    },
    fn("image_dims_long", classOf[ImageDimsLong]) { children =>
      require(children.length == 1, "image_dims_long takes exactly 1 argument")
      ImageDimsLong(children.head)
    },
    fn("audio_meta_long", classOf[AudioMetaLong]) { children =>
      require(children.length == 1, "audio_meta_long takes exactly 1 argument")
      AudioMetaLong(children.head)
    },
    fn("misra_gries_terms", classOf[MisraGriesTerms]) { children =>
      require(children.length == 2, "misra_gries_terms takes (term STRING, k INT)")
      MisraGriesTerms(children.head, literalInt(children(1), "misra_gries_terms k"))
    },
    fn("zorder_long", classOf[ZOrderLong]) { children =>
      require(children.length == 2, "zorder_long takes exactly 2 arguments")
      ZOrderLong(children.head, children(1))
    },
    fn("bmp_dhash_long", classOf[BmpDhashLong]) { children =>
      require(children.length == 1, "bmp_dhash_long takes exactly 1 argument")
      BmpDhashLong(children.head)
    },
    fn("bpe_count_long", classOf[BpeCountLong]) { children =>
      require(children.length == 1, "bpe_count_long takes exactly 1 argument")
      BpeCountLong(children.head)
    },
    fn("bpe_count_text_long", classOf[BpeCountTextLong]) { children =>
      require(children.length == 1,
        "bpe_count_text_long takes exactly 1 argument")
      BpeCountTextLong(children.head)
    },
    fn("bpe_segments_array", classOf[BpeSegmentsArray]) { children =>
      require(children.length == 1,
        "bpe_segments_array takes exactly 1 argument")
      BpeSegmentsArray(children.head)
    },
    fn("multi_match_pack_long", classOf[MultiMatchPackLong]) { children =>
      require(children.length == 2,
        "multi_match_pack_long takes (text STRING, patterns ARRAY<STRING> literal)")
      // SQL callers pass an array literal; the expression wants the
      // automaton's ''-joined spec STRING (MultiMatch.packCol does
      // the same join for Column callers). Folding here keeps the
      // one-automaton-per-SPEC cache keying.
      val spec = children(1) match {
        case f if f.foldable => f.eval() match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData =>
            val sep = graft.functions.MultiMatch.Sep
            val pats = (0 until a.numElements()).map(a.getUTF8String(_).toString)
            require(pats.nonEmpty &&
              pats.length <= graft.functions.MultiMatch.MaxPatterns &&
              pats.forall(p => p.nonEmpty && p.indexOf(sep.toInt) < 0),
              s"bad multi_match_pack_long pattern list: $pats")
            pats.mkString(sep.toString)
          case other => throw new IllegalArgumentException(
            "multi_match_pack_long patterns must be an ARRAY<STRING> literal, " +
              s"got ${Option(other).getOrElse("NULL")}")
        }
        case other => throw new IllegalArgumentException(
          s"multi_match_pack_long patterns must be a literal, got $other")
      }
      MultiMatchPackLong(children.head,
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          spec, org.apache.spark.sql.types.StringType))
    },
    topKPairs("top_k_pairs_long", LongType),
    topKPairs("top_k_pairs_double", DoubleType),
    fn("video_meta_long", classOf[VideoMetaLong]) { children =>
      require(children.length == 1, "video_meta_long takes exactly 1 argument")
      VideoMetaLong(children.head)
    })

  /** Idempotent registration on an already-built session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
