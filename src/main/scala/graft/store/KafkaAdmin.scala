package graft.store

/** Driver-side Kafka metadata provider — the zero-record path for topic
  * listing and end offsets (ref /root/reference/src/jdbc/melt.clj:239-254
  * partition discovery, melt.clj:301-305 count-topic: the reference asks the
  * consumer for offsets instead of reading records; Spark-side the analogue
  * is the AdminClient).
  *
  * Offsets follow KAFKA semantics here: `endOffsets` returns the offset of
  * the NEXT record to be written per partition (an empty partition reports
  * 0). [[KafkaStore]] converts to its record-cursor convention (last written
  * offset, empty partitions absent) at the boundary.
  */
trait KafkaAdmin {
  def listTopics(): Seq[String]
  /** topic → partition ids, for every requested topic that exists. Topics
    * the cluster does not know are OMITTED from the result, not errors —
    * one missing topic must not fail offset discovery for the rest (the
    * reflective impl batches one describeTopics and isolates failures via
    * the per-topic futures). Authorization failures are NOT omitted — an
    * ACL-denied topic still exists, and silently treating it as absent
    * would let a mirror job conclude the topic is gone (and e.g. tombstone
    * downstream); those abort discovery loudly, naming the topic. */
  def partitionsOf(topics: Seq[String]): Map[String, Seq[Int]]
  /** (topic, partition) → next-offset-to-write, for every partition of the
    * requested topics. */
  def endOffsets(topics: Seq[String]): Map[(String, Int), Long]
  def close(): Unit = ()
}

/** Loads `org.apache.kafka.clients.admin.AdminClient` reflectively —
  * kafka-clients is an optional runtime dependency (it ships inside the
  * spark-sql-kafka connector package on real clusters but is absent from
  * this offline build classpath, so a compile-time dependency is
  * impossible). When the class is missing, [[load]] returns None, and a
  * [[KafkaStore]] with no injected provider refuses every metadata call
  * (topics, partition map, end offsets) with an
  * UnsupportedOperationException. */
object ReflectiveKafkaAdmin {

  /** None when kafka-clients is not on the classpath. `extraOpts` may carry
    * Spark-style `kafka.`-prefixed client configs; the prefix is stripped. */
  def load(bootstrap: String,
      extraOpts: Map[String, String] = Map.empty): Option[KafkaAdmin] =
    try {
      val cls = Class.forName("org.apache.kafka.clients.admin.AdminClient")
      val props = new java.util.Properties()
      props.put("bootstrap.servers", bootstrap)
      extraOpts.foreach { case (k, v) =>
        props.put(if (k.startsWith("kafka.")) k.substring(6) else k, v)
      }
      val client = cls.getMethod("create", classOf[java.util.Properties])
        .invoke(null, props)
      Some(new Reflective(client))
    } catch {
      case _: ClassNotFoundException | _: NoClassDefFoundError => None
    }

  /** Reflection plumbing. Every AdminClient result wraps values in
    * KafkaFuture — `futureGet` invokes the named accessor then blocks on
    * `get()`. Method lookup goes through the public interface methods of the
    * runtime class; all AdminClient surface methods are public. */
  private final class Reflective(client: AnyRef) extends KafkaAdmin {

    /** Reflection and KafkaFuture both wrap the real failure — surface the
      * underlying Kafka exception to callers instead of
      * InvocationTargetException/ExecutionException nesting. */
    @annotation.tailrec
    private def unwrap(t: Throwable): Throwable = t match {
      case e: java.lang.reflect.InvocationTargetException
          if e.getCause != null => unwrap(e.getCause)
      case e: java.util.concurrent.ExecutionException
          if e.getCause != null => unwrap(e.getCause)
      case other => other
    }

    private def call(target: AnyRef, method: String, sig: Class[_]*)(
        args: AnyRef*): AnyRef = {
      val m = target.getClass.getMethod(method, sig: _*)
      m.setAccessible(true)
      try m.invoke(target, args: _*)
      catch {
        case e: java.lang.reflect.InvocationTargetException => throw unwrap(e)
      }
    }

    private def futureGet(result: AnyRef, accessor: String): AnyRef =
      call(call(result, accessor)(), "get")()

    override def listTopics(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      futureGet(call(client, "listTopics")(), "names")
        .asInstanceOf[java.util.Set[String]].asScala.toSeq.sorted
    }

    override def partitionsOf(topics: Seq[String]): Map[String, Seq[Int]] = {
      import scala.jdk.CollectionConverters._
      if (topics.isEmpty) return Map.empty
      // ONE batched describeTopics round trip. The result's all() future
      // fails wholesale when ANY topic is unknown, which would violate the
      // trait's omit-missing contract — so go through the PER-TOPIC future
      // map instead (topicNameValues() in kafka-clients 3.1+, values()
      // before): one unknown topic fails only its own future. Per the trait
      // contract, only UnknownTopicOrPartition is treated as absence; any
      // other per-topic failure (authorization, timeouts) propagates and
      // aborts discovery — unwrap() has already surfaced the real Kafka
      // exception, which names the topic.
      val res = call(client, "describeTopics",
        classOf[java.util.Collection[_]])(topics.asJava)
      val perTopic =
        try call(res, "topicNameValues")()
        catch { case _: NoSuchMethodException => call(res, "values")() }
      perTopic.asInstanceOf[java.util.Map[String, AnyRef]].asScala.flatMap {
        case (topic, fut) =>
          try {
            val desc = call(fut, "get")()
            val parts = call(desc, "partitions")()
              .asInstanceOf[java.util.List[AnyRef]].asScala
              .map(p =>
                call(p, "partition")().asInstanceOf[Integer].intValue())
            Some(topic -> parts.toSeq.sorted)
          } catch {
            // by-name match: kafka-clients is not on the compile classpath
            case e: Throwable if e.getClass.getName ==
                "org.apache.kafka.common.errors.UnknownTopicOrPartitionException" =>
              None
          }
      }.toMap
    }

    override def endOffsets(topics: Seq[String]): Map[(String, Int), Long] = {
      import scala.jdk.CollectionConverters._
      val tpCls = Class.forName("org.apache.kafka.common.TopicPartition")
      val tpCtor = tpCls.getConstructor(classOf[String], Integer.TYPE)
      val latest = Class.forName("org.apache.kafka.clients.admin.OffsetSpec")
        .getMethod("latest").invoke(null)
      val query = new java.util.HashMap[AnyRef, AnyRef]()
      partitionsOf(topics).foreach { case (t, parts) =>
        parts.foreach(p => query.put(
          tpCtor.newInstance(t, Int.box(p)).asInstanceOf[AnyRef], latest))
      }
      val res = call(client, "listOffsets", classOf[java.util.Map[_, _]])(query)
      futureGet(res, "all").asInstanceOf[java.util.Map[AnyRef, AnyRef]]
        .asScala.map { case (tp, info) =>
          (call(tp, "topic")().asInstanceOf[String],
            call(tp, "partition")().asInstanceOf[Integer].intValue()) ->
            call(info, "offset")().asInstanceOf[java.lang.Long].longValue()
        }.toMap
    }

    override def close(): Unit = { call(client, "close")(); () }
  }
}
