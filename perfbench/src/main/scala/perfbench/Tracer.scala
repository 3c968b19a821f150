package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One recorded span: a timed call from the benchmark into an engine layer.
  * `layer` is the name's first dot-separated segment (`kernel.chunk_text` is
  * in layer `kernel`); `parent` is 0 for a root span.
  */
final case class SpanRec(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    attrs: Map[String, Double]) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark task counters of the stages submitted while one span was open. */
final class Counters {
  var stages = 0L
  var tasks = 0L
  var recordsRead = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMsByStage = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  def add(o: Counters): Unit = {
    stages += o.stages; tasks += o.tasks
    recordsRead += o.recordsRead; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    o.taskMsByStage.foreach { case (s, ms) => taskMsByStage.getOrElseUpdate(s, mutable.ArrayBuffer()) ++= ms }
  }

  /** max / median task time of the stage with the most total task time. */
  def taskSkew: Double =
    if (taskMsByStage.isEmpty) 1.0
    else {
      val ms = taskMsByStage.values.maxBy(_.sum).sorted
      val median = ms(ms.length / 2).toDouble
      ms.last / math.max(median, 1.0)
    }
}

/** Records spans from the driver thread and charges each Spark stage's task
  * counters to the span that was open when the stage was submitted (carried
  * as a job-local property, which Spark copies into every stage it runs for
  * that job). Spans stay in memory; [[write]] dumps them once, at the end.
  */
final class Tracer(spark: SparkSession) {
  private val Prop = "perfbench.span"
  private val sc = spark.sparkContext
  private val done = mutable.ArrayBuffer[SpanRec]()
  private var open: List[(Int, mutable.Map[String, Double])] = Nil
  private var nextId = 1
  private val stageSpan = mutable.Map[Int, Int]()
  private val bySpan = mutable.Map[Int, Counters]()

  private val listener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)
      span.foreach { id =>
        stageSpan(e.stageInfo.stageId) = id
        bySpan.getOrElseUpdate(id, new Counters).stages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val c = bySpan.getOrElseUpdate(id, new Counters)
        c.tasks += 1
        c.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          c.recordsRead += m.inputMetrics.recordsRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }
  sc.addSparkListener(listener)

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(0)
    val attrs = mutable.Map[String, Double]()
    open = (id, attrs) :: open
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, id.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Prop, prev)
      open = open.tail
      done += SpanRec(id, parent, name, t0, t1, attrs.toMap)
    }
  }

  /** Attach a number to the innermost open span. */
  def annotate(key: String, value: Double): Unit = open.headOption.foreach(_._2(key) = value)

  def spans: Seq[SpanRec] = done.toSeq

  /** Counters of `root` and every span below it. */
  def counters(root: SpanRec): Counters = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val children = done.groupBy(_.parent)
    val total = new Counters
    def walk(id: Int): Unit = {
      listener.synchronized(bySpan.get(id).foreach(total.add))
      children.getOrElse(id, Nil).foreach(s => walk(s.id))
    }
    walk(root.id)
    total
  }

  def last(name: String): SpanRec = done.filter(_.name == name).last

  def close(): Unit = sc.removeSparkListener(listener)

  /** One JSON object per span, with its own (not inherited) task counters. */
  def write(path: java.nio.file.Path): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val lines = done.sortBy(_.id).map { s =>
      val c = listener.synchronized(bySpan.getOrElse(s.id, new Counters))
      Json.obj(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "attrs" -> s.attrs,
        "stages" -> c.stages, "tasks" -> c.tasks, "shuffle_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "records_read" -> c.recordsRead)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
