package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TickFeeds
import graft.schema.Schemas

/** `tick_feeds(j)` ≡ `from_json(j, Schemas.tickCandle).feeds` over
  * generated wire ticks and mutations of them that push records off the
  * native fast path (type swaps, containers in scalar slots, nulls,
  * repeated keys, unknown fields, single quotes, NaN strings, truncation,
  * trailing garbage, BOM and NUL prefixes, invalid UTF-8 in read and in
  * skipped strings), plus the pruning claim behind `tickCandle`: the
  * fields `CandlePipeline.parseAndClassify` reads equal the full
  * `Schemas.tick` parse's. Inputs are bytes cast to STRING, so invalid
  * UTF-8 reaches both parsers as it would from a Kafka value. */
object TickFeedsProps extends Properties("graft.functions.TickFeeds") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark

  /** A JSON tree; `Raw` is literal token text (numbers, null, NaN). */
  private sealed trait J
  private case class Obj(fields: List[(String, J)]) extends J
  private case class Arr(items: List[J]) extends J
  private case class Str(s: String) extends J
  private case class Raw(text: String) extends J

  private def render(j: J, q: Char): String = j match {
    case Obj(fs) => fs.map { case (k, v) => s"$q$k$q:${render(v, q)}" }.mkString("{", ",", "}")
    case Arr(xs) => xs.map(render(_, q)).mkString("[", ",", "]")
    case Str(s)  => s"$q$s$q"
    case Raw(t)  => t
  }

  private val num: Gen[J] = Gen.oneOf(
    Gen.choose(-1e6, 1e6).map(d => Raw(d.toString)),
    Gen.choose(-1000, 100000).map(i => Raw(i.toString)),
    Gen.oneOf(Raw("1e400"), Raw("-0.0"), Raw("0.25")))
  private val digits: Gen[J] = Gen.choose(0L, 2000000000000L).map(l => Str(l.toString))

  private val quote: Gen[J] = for (b <- num; a <- num) yield
    Obj(List("bidQ" -> Str("10"), "bidP" -> b, "askQ" -> Str("5"), "askP" -> a))

  private val feed: Gen[J] = for {
    ltp <- num; ltt <- digits; ltq <- digits; cp <- num
    qs <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, quote))
    tbq <- num; tsq <- num
  } yield Obj(List("fullFeed" -> Obj(List(
    "marketFF" -> Obj(List(
      "ltpc" -> Obj(List("ltp" -> ltp, "ltt" -> ltt, "ltq" -> ltq, "cp" -> cp)),
      "marketLevel" -> Obj(List("bidAskQuote" -> Arr(qs))),
      "optionGreeks" -> Obj(Nil),
      "marketOHLC" -> Obj(List("ohlc" -> Arr(List(Obj(List(
        "interval" -> Str("1d"), "open" -> Raw("1.5"), "vol" -> Str("7"))))))),
      "atp" -> Raw("2.5"), "vtt" -> Str("9"), "tbq" -> tbq, "tsq" -> tsq)),
    "requestMode" -> Str("full_d30")))))

  private val tick: Gen[J] = for {
    n <- Gen.choose(1, 3)
    keys <- Gen.listOfN(n, Gen.choose(0, 999).map(i => s"NSE_EQ|INE$i"))
    fs <- Gen.listOfN(n, feed)
  } yield Obj(List("type" -> Str("live_feed"), "feeds" -> Obj(keys.zip(fs)),
                   "currentTs" -> Str("1")))

  /** Values of another kind than a slot expects, for any slot. */
  private val odd: Gen[J] = Gen.oneOf(
    Str("x"), Str(""), Str("NaN"), Str("Infinity"), Str("-INF"), Str("12"),
    Raw("NaN"), Raw("12"), Raw("1.5"), Raw("true"), Raw("null"),
    Obj(List("a" -> Raw("1"))), Obj(Nil), Arr(List(Raw("1"))), Arr(Nil))

  private val readFields = Seq("feeds", "fullFeed", "marketFF", "ltpc", "ltp", "ltt",
                               "ltq", "marketLevel", "bidAskQuote", "bidP", "askP",
                               "tbq", "tsq")

  /** Applies `f` to every field named `name`, at any depth. */
  private def onField(j: J, name: String)(f: J => J): J = j match {
    case Obj(fs) => Obj(fs.map { case (k, v) =>
      k -> (if (k == name) f(onField(v, name)(f)) else onField(v, name)(f)) })
    case Arr(xs) => Arr(xs.map(onField(_, name)(f)))
    case other => other
  }

  /** Rewrites every object's field list, at any depth. */
  private def onObjects(j: J)(f: List[(String, J)] => List[(String, J)]): J = j match {
    case Obj(fs) => Obj(f(fs.map { case (k, v) => k -> onObjects(v)(f) }))
    case Arr(xs) => Arr(xs.map(onObjects(_)(f)))
    case other => other
  }

  /** Invalid (and one valid) UTF-8 sequences, spliced in for `@@`. */
  private val badBytes: Gen[Array[Byte]] = Gen.oneOf(
    Seq(0xC3, 0x28), Seq(0xC0, 0xAF), Seq(0xED, 0xA0, 0x80), Seq(0xFF),
    Seq(0xE2, 0x82), Seq(0xF4, 0x90, 0x80, 0x80), Seq(0xC3, 0xA9))
    .map(_.map(_.toByte).toArray)

  private def splice(s: String, b: Array[Byte]): Array[Byte] =
    s.split("@@", -1).map(_.getBytes(UTF_8)).reduce(_ ++ b ++ _)

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  private val mutated: Gen[Array[Byte]] = tick.flatMap { t =>
    val dq = render(t, '"')
    Gen.oneOf(
      for (f <- Gen.oneOf(readFields); v <- odd) yield utf8(render(onField(t, f)(_ => v), '"')),
      for (f <- Gen.oneOf(readFields)) yield utf8(render(onField(t, f)(_ => Raw("null")), '"')),
      // repeated keys: a second value for every field of that name
      for (f <- Gen.oneOf(readFields); v <- Gen.oneOf(num, odd)) yield
        utf8(render(onObjects(t)(fs => fs.flatMap { case (k, x) =>
          if (k == f) List(k -> x, k -> v) else List(k -> x) }), '"')),
      Gen.const(utf8(render(onObjects(t)(_ :+ ("zz" -> Obj(List("a" -> Arr(List(
        Raw("1"), Obj(List("b" -> Raw("null"), "ltp" -> Str("q"))))))))), '"'))),
      Gen.const(utf8(render(t, '\''))),
      Gen.choose(0, dq.length - 1).map(n => utf8(dq.take(n))),
      Gen.oneOf(" xyz", "}", " {}", "\n", " 1").map(g => utf8(dq + g)),
      Gen.const(utf8("\uFEFF" + dq)),
      Gen.const(utf8("{\u0000" + dq.drop(1))),
      badBytes.map(b => splice(render(onField(t, "feeds") {
        case Obj((k, v) :: rest) => Obj((k + "@@", v) :: rest)
        case other => other }, '"'), b)),
      badBytes.map(b => splice(render(onField(t, "ltt")(_ => Str("17@@")), '"'), b)),
      badBytes.map(b => splice(render(onField(t, "requestMode")(_ => Str("@@")), '"'), b)))
  }

  private val specials: Seq[Option[Array[Byte]]] =
    Seq("", "null", "[]", "  ", "{}", "{\"feeds\":null}", "{\"feeds\":{}}",
        "{\"feeds\":{\"A\":null}}", "{\"feeds\":{\"A\":1}}")
      .map(s => Some(utf8(s))) :+ None

  private val inputs: Gen[Seq[Option[Array[Byte]]]] = for {
    plain <- Gen.listOfN(16, tick.map(t => utf8(render(t, '"'))))
    odd <- Gen.listOfN(48, mutated)
  } yield (plain ++ odd).map(Some(_)) ++ specials

  private def frame(in: Seq[Option[Array[Byte]]]): DataFrame = {
    import spark.implicits._
    in.toDF("b").select(col("b").cast("string").as("j"))
  }

  /** Rows whose two columns differ, with their input. */
  private def differing(df: DataFrame, a: Column, b: Column): Seq[String] =
    df.select(col("j"), a.as("a"), b.as("b")).collect().toSeq
      .filter(r => r.get(1) != r.get(2))
      .map(r => s"${r.getString(0)}\n  got      ${r.get(1)}\n  expected ${r.get(2)}")

  property("tick_feeds(j) == from_json(j, tickCandle).feeds") =
    forAllNoShrink(inputs) { in =>
      val bad = differing(frame(in), to_json(TickFeeds(col("j"))),
        to_json(from_json(col("j"), Schemas.tickCandle).getField("feeds")))
      bad.isEmpty :| bad.take(3).mkString("\n")
    }

  property("tickCandle parse == full tick parse on every field parseAndClassify reads") =
    forAllNoShrink(inputs) { in =>
      def read(feeds: Column): Column = to_json(transform_values(feeds, (_, v) => {
        val m = v.getField("fullFeed").getField("marketFF")
        val q = m.getField("marketLevel").getField("bidAskQuote")
        struct(m.getField("ltpc").getField("ltp").as("ltp"),
               m.getField("ltpc").getField("ltt").as("ltt"),
               m.getField("ltpc").getField("ltq").as("ltq"),
               q.getField("bidP").as("bidP"), q.getField("askP").as("askP"),
               m.getField("tbq").as("tbq"), m.getField("tsq").as("tsq"))
      }))
      val bad = differing(frame(in),
        read(from_json(col("j"), Schemas.tickCandle).getField("feeds")),
        read(from_json(col("j"), Schemas.tick).getField("feeds")))
      bad.isEmpty :| bad.take(3).mkString("\n")
    }
}
