package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.model.{Headers => H}

/** One Kafka header and one Kafka record, in the envelope shape the
  * analyzer's sources produce (`topic, partition, offset, timestamp, key,
  * value, headers`). */
final case class Hdr(key: String, value: Array[Byte])
final case class Rec(topic: String, partition: Int, offset: Long,
    timestamp: java.sql.Timestamp, key: Array[Byte], value: Array[Byte],
    headers: Seq[Hdr])

/** Generator dimensions.
  *
  * @param topics      dead-letter topics
  * @param frames      distinct first stack frames per topic; with the six
  *                    non-frame error types per topic the `(topic, type)`
  *                    key count is `topics * (frames + 6)`
  * @param traceFrames frames in a full stack trace (the trace has one more
  *                    line, the exception line) */
final case class GenSpec(topics: Int, frames: Int, traceFrames: Int) {
  def keys: Int = topics * (frames + 6)
}

/**
 * Dead-letter record generator: a pure function of `(seed, id)`, where `id`
 * is the rate source's `value`. It reproduces the scenario matrix of
 * `graft.sources.DeadLetterSource.envelope` (all four wire formats and the
 * reference test-suite's error scenarios) with seeded keys, topics and
 * frames instead of the `events` table, so it can render records wherever a
 * rate source's rows are.
 *
 * `mode = h % 20` picks the scenario and `mode % 4` the wire format
 * (0 = dead letter as the value, 1 = bakdata streams headers, 2 = native
 * Kafka Streams headers, 3 = Connect headers); `kind = h % 3` picks the
 * stack-trace shape (full trace / exception line / unparseable).
 */
object Gen {

  /** SplitMix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Kafka timestamp of record `id` (a fixed epoch plus one ms per id). */
  def timestampMs(id: Long): Long = 1700000000000L + id

  private def bytes(s: String): Array[Byte] = if (s == null) null else s.getBytes(UTF_8)
  private def hdr(k: String, v: String): Hdr = Hdr(k, bytes(v))

  private def jsonStr(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 8).append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\t' => b.append("\\t")
        case c => b.append(c)
      }
      i += 1
    }
    b.append('"').toString
  }

  def stackTrace(kind: Int, topic: Int, frame: Int, id: Long, g: GenSpec): String =
    kind match {
      case 0 =>
        val b = new java.lang.StringBuilder(64 + 96 * g.traceFrames)
        b.append("org.example.FailureException: handling event ").append(id)
        b.append("\n\tat com.example.svc").append(topic).append(".Handler")
          .append(frame).append(".handle(Handler").append(frame)
          .append(".java:").append(frame % 500 + 1).append(')')
        var j = 1
        while (j < g.traceFrames) {
          b.append("\n\tat org.example.pipeline.layer").append(j)
            .append(".StageProcessor").append(j).append(".process(StageProcessor")
            .append(j).append(".java:").append(100 + j).append(')')
          j += 1
        }
        b.toString
      case 1 => "java.lang.IllegalStateException: bad state " + (id % 7)
      case _ => "!! corrupted frame " + (id % 5)
    }

  def render(seed: Long, id: Long, g: GenSpec): Rec = {
    val h = mix(mix(seed) ^ id) & Long.MaxValue
    val mode = (h % 20).toInt
    val fmt = mode % 4
    val kind = ((h >>> 5) % 3).toInt
    val user = (h >>> 8) % 1000
    val topic = ((h >>> 18) % g.topics).toInt
    val frame = ((h >>> 34) % g.frames).toInt
    val st = stackTrace(kind, topic, frame, id, g)
    val errorClass = kind match {
      case 0 => "org.example.FailureException"
      case 1 => "java.lang.IllegalStateException"
      case _ => "java.lang.RuntimeException"
    }
    val msg = "error for event " + id
    val origTopic = s"orig-svc-$topic"
    val origPartition = (user % 4).toString
    val origOffset = (id * 10).toString
    val descr = s"failure in svc-$topic"
    val props = s"""{"page":"/p/${h % 997}","ref":"r${user % 13}"}"""
    val tsMs = timestampMs(id)

    def streams = Seq(
      hdr(H.Partition, origPartition)) ++
      (if (mode != 1) Seq(hdr(H.Topic, origTopic)) else Nil) ++
      (if (mode != 13) Seq(hdr(H.Offset, origOffset)) else Seq(hdr(H.FaultyOffset, origOffset))) ++
      Seq(hdr(H.Description, descr), hdr(H.ExceptionClassName, errorClass),
        hdr(H.ExceptionMessage, if (mode == 17) null else msg),
        hdr(H.ExceptionStackTrace, st))
    def native =
      Seq(hdr(H.NativePartitionName, if (mode == 2) null else origPartition)) ++
      (if (mode != 6) Seq(hdr(H.NativeTopicName, origTopic)) else Nil) ++
      Seq(hdr(H.NativeOffsetName, origOffset)) ++
      (if (mode != 10) Seq(hdr(H.NativeProcessorNodeIdName, s"proc-${user % 3}"),
        hdr(H.NativeTaskIdName, s"task-${user % 5}")) else Nil) ++
      Seq(hdr(H.NativeExceptionName, errorClass),
        hdr(H.NativeExceptionMessageName, msg), hdr(H.NativeStacktraceName, st))
    def connect =
      (if (mode != 7) Seq(hdr(H.ConnectOrigPartition, origPartition),
        hdr(H.ConnectOrigTopic, origTopic), hdr(H.ConnectOrigOffset, origOffset))
      else Nil) ++
      Seq(hdr(H.ConnectStage, if (id % 2 == 0) "VALUE_CONVERTER" else "KEY_CONVERTER"),
        hdr(H.ConnectExecutingClass, "org.apache.kafka.connect.json.JsonConverter")) ++
      (if (mode != 7 && kind != 2) Seq(hdr(H.ConnectException, errorClass)) else Nil) ++
      Seq(hdr(H.ConnectTaskId, if (mode == 3) "NaN" else (user % 10).toString),
        hdr(H.ConnectConnectorName, s"conn-svc-$topic")) ++
      (if (mode != 7) Seq(hdr(H.ConnectExceptionMessage, msg),
        hdr(H.ConnectExceptionStackTrace, st)) else Nil)

    val value =
      if (fmt == 0) {
        // the dead letter itself as the value, compact JSON with null
        // fields omitted (mode 0: null stack trace; kind 2: null class)
        val cause = Seq(
          if (kind == 2) None else Some("\"error_class\":" + jsonStr(errorClass)),
          Some("\"message\":" + jsonStr(msg)),
          if (mode == 0) None else Some("\"stack_trace\":" + jsonStr(st))).flatten
        s"""{"input_value":${jsonStr(props)},"partition":${user % 4},""" +
          s""""topic":${jsonStr(origTopic)},"offset":${id * 10},""" +
          s""""description":${jsonStr(descr)},"cause":{${cause.mkString(",")}},""" +
          s""""input_timestamp":$tsMs}"""
      } else props
    val headers = fmt match {
      case 1 => if (mode == 5) streams ++ connect else streams
      case 2 => native
      case 3 => connect
      case _ => Nil
    }
    Rec(s"svc-$topic-dead-letters", (user % 8).toInt, id,
      new java.sql.Timestamp(tsMs), bytes(s"key-$user"), bytes(value), headers)
  }
}
