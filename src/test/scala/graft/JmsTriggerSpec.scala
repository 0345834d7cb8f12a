package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.engine._

/** JMS trigger transport (gridstore.h GS_TRIGGER_JMS + :859-868 destination
  * and credential fields): an in-memory JmsMessageSender stands in for the
  * broker producer exactly as the in-process HTTP server does for the REST
  * transport in StreamingSpec. */
class JmsTriggerSpec extends SparkTestBase {

  private class CapturingSender extends JmsMessageSender {
    val sent = scala.collection.mutable.ListBuffer
      .empty[(String, String, Option[String], Option[String], String)]
    var fail = false
    override def send(destinationType: String, destinationName: String,
                      user: Option[String], password: Option[String],
                      body: String): Unit = {
      if (fail) throw new RuntimeException("broker down")
      sent.synchronized { sent += ((destinationType, destinationName, user, password, body)) }
      ()
    }
  }

  /** The jobs `body` launches. The listener bus is asynchronous and
    * delivers events queued before a listener was added, so a tagged
    * sentinel job before and after `body` marks what is `body`'s. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val starts = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def mark(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!starts.contains(tag) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(starts.contains(tag), s"job listener never saw $tag")
    }
    sc.addSparkListener(listener)
    try {
      mark(s"start_$id")
      body
      mark(s"end_$id")
    } finally sc.removeSparkListener(listener)
    starts.asScala.toSeq.dropWhile(_ != s"start_$id").indexOf(s"end_$id") - 1
  }

  test("JMS trigger fires through the seam with destination, credentials and payload") {
    import spark.implicits._
    val cat = GraftCatalog.forSession(spark)
    val sender = new CapturingSender
    new JmsTriggerNotifier(sender).install(cat)
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
      if (cat.exists("jms_tab")) cat.dropContainer("jms_tab")
      cat.createCollection("jms_tab", schema, keyColumns = Seq("id"))
      cat.createTrigger(TriggerDef("jms_trg", "jms_tab", Seq("PUT"),
        columns = Seq("v"), triggerType = "JMS", uri = "",
        jmsDestinationType = Some("topic"), jmsDestinationName = Some("graft.events"),
        user = Some("u1"), password = Some("p1")))

      // the put's own rewrite is its one job: the trigger's row count is
      // the local batch's, counted on the driver
      val jobs = jobsOf(cat.put("jms_tab", Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")))
      assert(jobs == 1, s"a triggered put ran $jobs jobs")
      val got = sender.sent.toList
      assert(got.size == 1, s"expected one JMS send, got $got")
      val (dtype, dest, user, pass, body) = got.head
      assert(dtype == "topic" && dest == "graft.events")
      assert(user.contains("u1") && pass.contains("p1"))
      assert(body == """{"trigger":"jms_trg","container":"jms_tab",""" +
        """"event":"PUT","rows":2,"columns":["v"]}""")
    } finally {
      cat.resetTriggerTransport()
      if (cat.listTriggers.exists(_.name == "jms_trg")) cat.dropTrigger("jms_trg")
      if (cat.exists("jms_tab")) cat.dropContainer("jms_tab")
    }
  }

  test("sender failure and missing destination dead-letter; wrong transport routed away") {
    val sender = new CapturingSender
    val jms = new JmsTriggerNotifier(sender)
    def ev(t: TriggerDef) = TriggerEvent(t, "PUT", 1)

    sender.fail = true
    jms.notify(ev(TriggerDef("t1", "tab", Seq("PUT"), triggerType = "JMS",
      jmsDestinationName = Some("q"))))
    assert(jms.deadLetters.exists(d =>
      d.event.trigger.name == "t1" && d.error.contains("broker down")))

    jms.notify(ev(TriggerDef("t2", "tab", Seq("PUT"), triggerType = "JMS")))
    assert(jms.deadLetters.exists(d =>
      d.event.trigger.name == "t2" && d.error.contains("no jmsDestinationName")))

    // a REST trigger reaching the JMS notifier dead-letters with routing advice
    jms.notify(ev(TriggerDef("t3", "tab", Seq("PUT"), triggerType = "REST")))
    assert(jms.deadLetters.exists(d =>
      d.event.trigger.name == "t3" && d.error.contains("RestTriggerNotifier")))

    // destination type defaults to queue when unspecified
    sender.fail = false
    jms.notify(ev(TriggerDef("t4", "tab", Seq("PUT"), triggerType = "JMS",
      jmsDestinationName = Some("q4"))))
    assert(sender.sent.exists { case (dt, d, _, _, _) => dt == "queue" && d == "q4" })
  }

  test("routed transport dispatches by trigger type") {
    val sender = new CapturingSender
    val jms = new JmsTriggerNotifier(sender)
    val rest = new RestTriggerNotifier()
    val route = TriggerTransports.routed(rest, jms)
    route(TriggerEvent(TriggerDef("j", "tab", Seq("PUT"), triggerType = "JMS",
      jmsDestinationName = Some("q")), "PUT", 1))
    assert(sender.sent.size == 1)
    // REST with a malformed URI goes to the REST notifier's dead letters,
    // never to the JMS sender
    route(TriggerEvent(TriggerDef("r", "tab", Seq("PUT"), triggerType = "REST",
      uri = "not a uri"), "PUT", 1))
    assert(sender.sent.size == 1)
    assert(rest.deadLetters.exists(_.event.trigger.name == "r"))
    assert(jms.deadLetters.isEmpty)
  }
}
