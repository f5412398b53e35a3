package graft

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.enrich.{Dicts, FlatDict}
import graft.pipeline.MispFeeder

/** Lookups in [[FlatDict]] equal lookups in the map of its pairs, for every
  * table the engine ships (the `Dicts.build()` tables and the misp feeder's
  * store) and for generated tables of arbitrary chars: every stored key
  * returns its value, every other key returns null, and both still hold
  * after a Java-serialization roundtrip (the broadcast wire format). */
class FlatDictSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .appName("flat-dict-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def check(p: Prop, n: Int = 200): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.passed, r.status.toString)
  }

  private def roundtrip(d: FlatDict): FlatDict = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(d); oos.close()
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[FlatDict]
  }

  // any UTF-16 unit, lone surrogates and U+0000 included
  private val anyChar: Gen[Char] = Gen.frequency(
    4 -> Gen.alphaNumChar, 1 -> Gen.choose(Char.MinValue, Char.MaxValue))
  private val anyStr: Gen[String] = Gen.listOf(anyChar).map(_.mkString)
  private val nonAscii: Gen[String] =
    Gen.nonEmptyListOf(Gen.choose('\u0080', Char.MaxValue)).map(_.mkString)

  /** A key with the same `String.hashCode` as `k`, so the same home slot:
    * (c1, c2) → (c1 + 1, c2 - 31) at some position. */
  private def sameHash(k: String): Gen[Option[String]] = {
    val at = (0 until k.length - 1).filter(i => k(i) < Char.MaxValue && k(i + 1) >= 31)
    if (at.isEmpty) Gen.const(None)
    else Gen.oneOf(at).map { i =>
      val c = k.toCharArray
      c(i) = (c(i) + 1).toChar; c(i + 1) = (c(i + 1) - 31).toChar
      Some(new String(c))
    }
  }

  /** `k` one char away: replaced, deleted or appended. */
  private def oneOff(k: String): Gen[String] = for {
    i <- Gen.choose(0, k.length)
    c <- anyChar
    op <- Gen.choose(0, 2)
  } yield op match {
    case 0 if i < k.length => k.updated(i, c)
    case 1 if i < k.length => k.patch(i, Nil, 1)
    case _ => k.patch(i, c.toString, 0)
  }

  /** Probe keys for `keys`: random, empty, non-ASCII, one char away from a
    * stored key and in a stored key's bucket. */
  private def probes(keys: IndexedSeq[String]): Gen[String] = {
    val near =
      if (keys.isEmpty) anyStr
      else Gen.oneOf(keys).flatMap(k => Gen.oneOf(oneOff(k),
        sameHash(k).map(_.getOrElse(k + "\u0000"))))
    Gen.frequency(2 -> anyStr, 1 -> Gen.const(""), 1 -> nonAscii, 6 -> near)
  }

  /** `d` answers exactly as `ref` for every stored key and for generated
    * probes; so does its serialization roundtrip. */
  private def assertMatches(name: String, d: FlatDict, ref: Map[String, String]): Unit = {
    val back = roundtrip(d)
    assert(back ne d)
    Seq(d, back).foreach { t =>
      assert(t.size == ref.size, s"$name size")
      ref.foreach { case (k, v) => assert(t.get(k) == v, s"$name key $k") }
    }
    val keys = ref.keysIterator.toIndexedSeq
    check(Prop.forAll(probes(keys)) { k =>
      val want = ref.getOrElse(k, null)
      d.get(k) == want && back.get(k) == want
    })
  }

  private def tables(d: Dicts): Seq[(String, FlatDict)] = Seq(
    "ianaTransport" -> d.ianaTransport, "mnemonics" -> d.mnemonics,
    "ianaProtocols" -> d.ianaProtocols, "ianaProtocolsPort" -> d.ianaProtocolsPort,
    "mitreTactics" -> d.mitreTactics, "facilityCategories" -> d.facilityCategories,
    "ciscoMnemonicInfo" -> d.ciscoMnemonicInfo, "ptr" -> d.ptr) ++
    d.misp.toSeq.map { case (ns, t) => s"misp $ns" -> t }

  test("every Dicts.build() table answers as the map of its pairs") {
    tables(Dicts.build()).foreach { case (name, t) =>
      val pairs = t.iterator.toVector
      val ref = pairs.toMap
      assert(ref.size == pairs.size, s"$name holds a key twice")
      assertMatches(name, t, ref)
    }
  }

  test("the misp feeder's store answers as the map of its pairs") {
    MispFeeder.storeFresh(spark).foreach { case (ns, t) =>
      assertMatches(s"fed misp $ns", t, t.iterator.toMap)
    }
  }

  test("a table of arbitrary chars answers as the Map built from the same pairs") {
    val pair = for (k <- anyStr; v <- anyStr) yield (k, v)
    check(Prop.forAll(Gen.listOf(pair), Gen.listOf(anyStr)) { (pairs, extra) =>
      val ref = pairs.toMap // a later pair wins, as in FlatDict
      val d = FlatDict(pairs)
      val back = roundtrip(d)
      d.size == ref.size && back.size == ref.size && d == back &&
        ref.forall { case (k, v) => d.get(k) == v && back.get(k) == v } &&
        (extra ++ ref.keys.map(_ + "x")).forall { k =>
          d.get(k) == ref.getOrElse(k, null) && back.get(k) == ref.getOrElse(k, null)
        }
    }, 500)
  }

  test("a key in a stored key's bucket is a miss, not a hash hit") {
    val d = FlatDict(Seq("Aa" -> "1", "MNEM-12" -> "2"))
    assert("Aa".hashCode == "BB".hashCode)
    assert(d.get("Aa") == "1" && d.get("BB") == null)
    assert(d.get("MNEM-12") == "2" && d.get("MNEM-0Q") == null) // "12" ~ "0Q"
    assert(FlatDict(Nil).get("") == null && FlatDict(Seq("" -> "")).get("") == "")
  }
}
