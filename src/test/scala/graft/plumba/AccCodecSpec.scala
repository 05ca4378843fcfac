package graft.plumba

import scala.reflect.ClassTag

import org.apache.spark.{SparkConf, SparkEnv}
import org.scalatest.funsuite.AnyFunSuite

/** Round-21 focused spec for the kryo accumulator codec that replaced
  * java serialization in the salted fold/scan/asof partials: every
  * accumulator shape those operators actually ship must round-trip
  * exactly (the bytes are internal to one query — only fidelity
  * matters, not the wire format). */
class AccCodecSpec extends AnyFunSuite {

  private def rt[A](a: A): A = AccCodec.deser[A](AccCodec.ser(a))

  test("primitive accumulators round-trip") {
    assert(rt(42.5: Double) == 42.5)
    assert(rt(7L) == 7L)
    assert(rt(-3: Int) == -3)
    assert(rt(true) == true)
  }

  test("Streak segment state (Long 4-tuple) round-trips") {
    val s: Streak.S = (3L, 9L, 2L, 17L)
    assert(rt(s) == s)
  }

  test("tuple and case-class-ish accumulators round-trip") {
    assert(rt((1.5, 4L)) == ((1.5, 4L)))
    assert(rt(("acc", 2.0, 3L)) == (("acc", 2.0, 3L)))
  }

  test("asof payload Array[Any] with mixed Spark external types round-trips") {
    val pay: Array[Any] = Array(1234L, "o_clerk#42", new java.math.BigDecimal("12345.67"),
      java.sql.Date.valueOf("2026-08-18"), null, 3.25)
    val back = rt(pay)
    assert(back.length == pay.length)
    assert(back(0) == 1234L && back(1) == "o_clerk#42")
    assert(back(2) == new java.math.BigDecimal("12345.67"))
    assert(back(3) == java.sql.Date.valueOf("2026-08-18"))
    assert(back(4) == null && back(5) == 3.25)
  }

  test("null accumulator round-trips (empty-bucket sentinel)") {
    assert(rt(null: Any) == null)
  }

  test("a session requiring kryo registration still round-trips internal accumulators") {
    val conf = new SparkConf().set("spark.kryo.registrationRequired", "true")
    val codec = AccCodec.serializer(conf)
    def rtc[A](a: A): A =
      codec.deserialize[Any](codec.serialize[Any](a)(ClassTag.Any))(ClassTag.Any).asInstanceOf[A]
    val s: Streak.S = (3L, 9L, 2L, 17L)
    assert(rtc(s) == s)
    val pay: Array[Any] = Array(1234L, "o_clerk#42", new java.math.BigDecimal("12345.67"),
      java.sql.Date.valueOf("2026-08-18"), null, 3.25)
    assert(rtc(pay).toSeq == pay.toSeq)
    assert(conf.get("spark.kryo.registrationRequired") == "true", "the caller's conf is left as it was")
  }

  test("a thread's instance is rebuilt when the SparkEnv it was built under is gone") {
    graft.TestSpark.spark
    val live = SparkEnv.get
    assert(live != null)
    @volatile var seen: Seq[Boolean] = Nil
    // a fresh thread: its first instance is built before any env (null),
    // then the live env appears, as for a thread that serialized before
    // the context started
    val t = new Thread(() => {
      val bare = AccCodec.instanceFor(null)
      val bareAgain = AccCodec.instanceFor(null)
      val onLive = AccCodec.instanceFor(live)
      val onLiveAgain = AccCodec.instanceFor(live)
      seen = Seq(bare eq bareAgain, onLive ne bare, onLiveAgain eq onLive)
    })
    t.start()
    t.join()
    assert(seen == Seq(true, true, true),
      "one instance per (thread, env): rebuilt on every env change, reused while the env stays")
  }
}
