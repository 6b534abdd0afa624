package perfbench

import scala.util.Random

/** The benchmark's own seeded web-log generator, modelled on the
  * reference's fake-data producer (dialect B: snake_case keys with a
  * required `event`). It is kept apart from the program's generator so a
  * change there cannot move the benchmark's inputs. Every record is a pure
  * function of (seed, index).
  */
final class Payloads(seed: Long, users: Int = 2000) {
  import Payloads._

  /** The user pool: stable uuid-shaped ids. */
  val userIds: IndexedSeq[String] = {
    val r = new Random(seed ^ 0x5eedL)
    IndexedSeq.fill(users)(new java.util.UUID(r.nextLong(), r.nextLong()).toString)
  }

  /** One valid event; `user` overrides the drawn user (skewed writes). */
  def event(i: Long, user: Option[String] = None): Event = {
    val r = new Random(seed * 1000003L + i)
    val u = user.getOrElse(userIds(r.nextInt(userIds.size)))
    val session = Array.fill(24)(Hex(r.nextInt(16))).mkString
    val referrer = if (r.nextInt(10) == 0) None else Some(Referrers(r.nextInt(Referrers.size)))
    val ua = UserAgents(r.nextInt(UserAgents.size))
    val ip = s"${r.nextInt(223) + 1}.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
    val host = Hostnames(r.nextInt(Hostnames.size))
    val os = Oses(r.nextInt(Oses.size))
    val ts = f"2024-01-15T${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d" + "Z"
    val uri = s"https://$host/2024/01/15/${Slugs(r.nextInt(Slugs.size))}?lane=${r.nextInt(100)}"
    val ev = EventTypes(r.nextInt(EventTypes.size))
    Event(u, session, ev, referrer, ua, ip, host, os, ts, uri)
  }
}

object Payloads {
  val EventTypes: IndexedSeq[String] = IndexedSeq("visit", "view", "list", "like", "cart", "purchase")
  private val Hex = "0123456789abcdef"
  private val Referrers = IndexedSeq("brandon.biz", "toe.gq", "transfer.edu", "search.example")
  private val UserAgents = IndexedSeq(
    "Mozilla/5.0 (X11; Linux x86_64) Gecko/20100101 Firefox/119.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) Safari/605.1.15",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) Chrome/119.0.0.0")
  val Hostnames: IndexedSeq[String] = IndexedSeq("toxic.tokyo", "drivers.glass", "propecia.tc",
    "consequently.com", "shop.example", "blog.example")
  private val Oses = IndexedSeq("openSUSE", "Windows 8.1", "Lubuntu", "Gentoo", "macOS", "Android")
  private val Slugs = IndexedSeq("bed-federal", "alan-publish", "use-phone-task", "spring-sale")

  final case class Event(userId: String, sessionId: String, event: String,
      referrer: Option[String], userAgent: String, ip: String, hostname: String,
      os: String, timestamp: String, uri: String) {
    def json: String = {
      val ref = referrer.map(r => s""""referrer": "$r", """).getOrElse("")
      s"""{"user_id": "$userId", "session_id": "$sessionId", "event": "$event", $ref""" +
        s""""user_agent": "$userAgent", "ip": "$ip", "hostname": "$hostname", "os": "$os", """ +
        s""""timestamp": "$timestamp", "uri": "$uri"}"""
    }
  }

  /** The reference's three invalid shapes: a timestamp in the wrong
    * format, a missing required key, a number where a string belongs.
    */
  def corrupt(p: String, mode: Int): String = mode % 3 match {
    case 0 => p.replaceAll("""T(\d{2}:\d{2}:\d{2})Z""", " $1")
    case 1 => p.replaceFirst(""""user_id": "[^"]*", """, "")
    case _ => p.replaceAll(""""ip": "[^"]*"""", "\"ip\": 212234672")
  }
}
