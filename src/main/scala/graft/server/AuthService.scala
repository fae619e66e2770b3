package graft.server

import java.nio.charset.StandardCharsets
import java.util.Base64

/**
 * Credential store + token minting — the reference's `oph_auth.c`
 * surface reduced to its semantics: users authenticate with
 * user/password or with a bearer token (the reference models tokens as
 * `userid=__token__, password=<token>`, `src/oph_auth.h:37,121`;
 * password hashes via crypt, `oph_auth.c` user table). Failed attempts
 * are throttled per remote HOST inside an expiring window, mirroring
 * the reference's block-list (`oph_is_in_bl`, `oph_auth.c:327` —
 * per-host entries that age out) — keying by user name would let any
 * unauthenticated client lock out a known account.
 */
object AuthService {
  val TokenUser = "__token__" // `oph_auth.h:37`
  val MaxAttempts = 5

  /** Per-user properties — the reference's user.dat fields
    * (`/root/reference/authz/users/<u>/user.dat`, keys
    * `src/oph_auth.h` OPH_USER_*): the enabled gate, session/core/host
    * quotas (0 = unlimited), the session timeout in DAYS that lets an
    * over-quota user reap expired autoremove sessions
    * (`oph_workflow_engine.c:536-595`), and the user's default data
    * directory (OPH_CDD). */
  final case class UserProps(
      enabled: Boolean = true,
      maxSessions: Int = 0,
      maxCores: Int = 0,
      maxHosts: Int = 0,
      timeoutSessionDays: Int = 0,
      cdd: String = "/")
  /** Block-window length: a host's failure counter resets this long
    * after its FIRST failure of the window (reference block-list
    * check period). */
  val BlockWindowMs = 300000L
  /** Failure-map size past which recordFailure sweeps expired windows
    * (bounds memory against scanners that never retry). */
  val SweepThreshold = 1024
}

final class AuthService(now: () => Long = () => System.currentTimeMillis,
    /** Durable credential store (reference `oph_auth.c` user table):
      * users and live tokens survive a server restart. None = memory
      * only. */
    stateFile: Option[java.nio.file.Path] = None,
    /** Federated bearer validation (reference OPENID support): a
      * Bearer/`__token__` credential that is not a locally-minted token
      * is tried as an OpenID JWT. With `allowLocalUser` unset the
      * deployment is federation-only and password logins are refused
      * (`oph_execute_main.c:366` semantics). */
    openId: Option[OpenIdService] = None) {
  import AuthService._

  /** True when password (Basic) credentials are acceptable: always,
    * unless an OIDC federation is configured WITHOUT the
    * allow-local-user escape. */
  private def localAllowed: Boolean = openId.forall(_.allowLocalUser)

  private val users =
    scala.collection.concurrent.TrieMap[String, String]() // name -> pw hash
  private val tokens =
    scala.collection.concurrent.TrieMap[String, String]() // token -> name
  /** Admin bit per user (reference `oph_manage_user.c` is_admin
    * property) — gates the user-management surface. */
  private val admins =
    scala.collection.concurrent.TrieMap[String, Unit]()
  /** user -> quota/gate properties; absent = all defaults. */
  private val props =
    scala.collection.concurrent.TrieMap[String, UserProps]()
  private val failures = scala.collection.concurrent
    .TrieMap[String, (Int, Long)]() // host -> (attempts, window start)
  /** Earliest time the next failure-map sweep can possibly remove
    * anything: sweeping before any window expired is O(n) work for
    * nothing, and under a distributed scan (>threshold hosts inside
    * one window) that would amplify every failed attempt to a full
    * map scan — O(n^2) total on the auth hot path. */
  private val nextSweepAt = new java.util.concurrent.atomic.AtomicLong(0L)

  // restore: tab-separated "U\tname\thash" / "T\ttoken\tuser" lines
  // (hashes are base64, tokens hex — neither contains a tab).
  // split limit -1 keeps trailing empty fields: a P line whose cdd is
  // empty must still parse as 8 fields, or the user's enabled/quota
  // state silently reverts to defaults on restart.
  stateFile.filter(java.nio.file.Files.isRegularFile(_))
    .map(java.nio.file.Files.readString).foreach { text =>
    text.linesIterator.foreach(_.split("\t", -1) match {
      case Array("U", name, h) => users(name) = h
      case Array("T", token, user) => tokens(token) = user
      case Array("A", name) => admins(name) = ()
      case Array("P", name, en, ms, mc, mh, to, cdd) =>
        // a corrupt integer skips just this line — one malformed P
        // entry must not abort the whole auth-state restore
        (for { msV <- ms.toIntOption; mcV <- mc.toIntOption
               mhV <- mh.toIntOption; toV <- to.toIntOption }
          yield UserProps(en == "1", msV, mcV, mhV, toV,
            if (cdd.isEmpty) "/" else cdd))
          .foreach(props(name) = _)
      case _ => // tolerate unknown lines (forward compatibility)
    })
  }

  /** Serializes mutate+persist pairs: two concurrent logins must not
    * each snapshot-and-rewrite the file missing the other's token
    * (last atomic move would win and silently drop a live token). */
  private val persistLock = new Object

  private def mutate(change: => Unit): Unit = persistLock.synchronized {
    change
    stateFile.foreach { p =>
      val sb = new StringBuilder
      users.toSeq.sortBy(_._1).foreach { case (n, h) =>
        sb.append("U\t").append(n).append('\t').append(h).append('\n') }
      tokens.toSeq.sortBy(_._1).foreach { case (t, u) =>
        sb.append("T\t").append(t).append('\t').append(u).append('\n') }
      admins.keys.toSeq.sorted.foreach { n =>
        sb.append("A\t").append(n).append('\n') }
      props.toSeq.sortBy(_._1).foreach { case (n, q) =>
        sb.append("P\t").append(n).append('\t')
          .append(if (q.enabled) "1" else "0").append('\t')
          .append(q.maxSessions).append('\t').append(q.maxCores)
          .append('\t').append(q.maxHosts).append('\t')
          .append(q.timeoutSessionDays).append('\t').append(q.cdd)
          .append('\n') }
      StateStore.save(p, sb.result())
    }
  }

  /** True while `host` is inside an un-expired block window with too
    * many failures; an expired window is dropped on sight. */
  private def blocked(host: String): Boolean =
    failures.get(host) match {
      case Some((n, t0)) if now() - t0 >= BlockWindowMs =>
        failures.remove(host); false
      case Some((n, _)) => n >= MaxAttempts
      case None => false
    }

  private def recordFailure(host: String): Unit = {
    failures.updateWith(host) {
      case Some((n, t0)) if now() - t0 < BlockWindowMs => Some((n + 1, t0))
      case _ => Some((1, now()))
    }
    // an internet-facing server sees one entry per scanning IP and
    // only ever cleans an entry when that SAME host comes back — so
    // opportunistically sweep expired windows once the map gets big,
    // but at most once per block window: before that, no entry can
    // have expired since the last sweep, so the scan would be wasted
    val t = now()
    if (failures.size > SweepThreshold) {
      val due = nextSweepAt.get
      if (t >= due && nextSweepAt.compareAndSet(due, t + BlockWindowMs)) {
        failures.foreach { case (h, (_, t0)) =>
          if (t - t0 >= BlockWindowMs) failures.remove(h)
        }
      }
    }
  }

  /** Salted SHA-256 stand-in for the reference's crypt() hashes. */
  private def hash(user: String, password: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    Base64.getEncoder.encodeToString(
      d.digest(s"graft:$user:$password".getBytes(StandardCharsets.UTF_8)))
  }

  def addUser(name: String, password: String, admin: Boolean = false): Unit = {
    // the state file is line/tab-framed: a control character in a
    // username could inject a forged line (e.g. an admin grant) on the
    // next reload — reject at the door, like setUserProps does for cdd
    require(name.nonEmpty && !name.exists(_ < ' '),
      "username cannot be empty or contain control characters")
    mutate {
      users(name) = hash(name, password)
      if (admin) admins(name) = ()
    }
  }

  def removeUser(name: String): Unit = mutate {
    users.remove(name)
    admins.remove(name)
    props.remove(name)
    tokens.filterInPlace { case (_, u) => u != name }
  }

  /** Quota/gate properties of `name`; defaults when never set. */
  def userProps(name: String): UserProps =
    props.getOrElse(name, UserProps())

  def setUserProps(name: String, p: UserProps): Unit = {
    require(!p.cdd.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "cdd cannot contain control characters")
    // empty cdd → "/" so the persisted P line never ends in a bare
    // tab (reference user.dat OPH_CDD likewise defaults to the root)
    val q = if (p.cdd.isEmpty) p.copy(cdd = "/") else p
    mutate { props(name) = q }
  }

  // ------------------------ admin surface (`src/oph_manage_user.c`)

  def isAdmin(name: String): Boolean = admins.contains(name)

  def userExists(name: String): Boolean = users.contains(name)

  /** add|del|update|list actions of the reference's user-management
    * tool, as a guarded facade: `actor` must hold the admin bit. An
    * update that changes the password also revokes the user's live
    * tokens (a password reset must invalidate stolen sessions). */
  def manageUser(actor: String, action: String,
      args: Map[String, String]): Seq[(String, Boolean)] = {
    if (!isAdmin(actor))
      throw new SessionService.AuthError(s"'$actor' is not an admin")
    def need(k: String): String = args.getOrElse(k,
      throw new IllegalArgumentException(s"manage_user $action: missing '$k'"))
    action.toLowerCase match {
      case "add" | "append" | "create" =>
        val name = need("username")
        if (userExists(name))
          throw new IllegalArgumentException(s"user '$name' already exists")
        addUser(name, need("password"),
          admin = args.get("is_admin").exists(_.equalsIgnoreCase("yes")))
        Nil
      case "del" | "delete" | "rm" | "remove" =>
        val name = need("username")
        if (!userExists(name))
          throw new IllegalArgumentException(s"unknown user '$name'")
        removeUser(name)
        Nil
      case "update" =>
        val name = need("username")
        if (!userExists(name))
          throw new IllegalArgumentException(s"unknown user '$name'")
        mutate {
          args.get("password").foreach { pw =>
            users(name) = hash(name, pw)
            tokens.filterInPlace { case (_, u) => u != name }
          }
          args.get("is_admin").foreach { v =>
            if (v.equalsIgnoreCase("yes")) admins(name) = ()
            else admins.remove(name)
          }
          // user.dat quota fields (`oph_manage_user.c` update keys)
          def int(k: String): Option[Int] = args.get(k).map(v =>
            v.toIntOption.getOrElse(throw new IllegalArgumentException(
              s"manage_user update: bad integer '$v' for '$k'")))
          val quotaKeys = Seq("enabled", "max_sessions", "max_cores",
            "max_hosts", "timeout_session", "cdd")
          if (quotaKeys.exists(args.contains)) {
            val cur = userProps(name)
            // through setUserProps, never a direct props write: its
            // control-character check on cdd is what keeps the
            // line-framed state file uninjectable (a '\n' in cdd
            // would otherwise persist a forgeable admin-grant line)
            setUserProps(name, cur.copy(
              enabled = args.get("enabled")
                .map(_.equalsIgnoreCase("yes")).getOrElse(cur.enabled),
              maxSessions = int("max_sessions").getOrElse(cur.maxSessions),
              maxCores = int("max_cores").getOrElse(cur.maxCores),
              maxHosts = int("max_hosts").getOrElse(cur.maxHosts),
              timeoutSessionDays =
                int("timeout_session").getOrElse(cur.timeoutSessionDays),
              cdd = args.getOrElse("cdd", cur.cdd)))
          }
        }
        Nil
      case "list" =>
        users.keys.toSeq.sorted.map(n => (n, isAdmin(n)))
      case other =>
        throw new IllegalArgumentException(
          s"manage_user: bad action '$other' (add|del|update|list)")
    }
  }

  /** Check user/password; mints and returns a bearer token on success.
    * `host` is the remote address the attempt came from — throttling
    * is per host, never per account. */
  def login(name: String, password: String, host: String = ""): Option[String] = {
    if (!localAllowed || blocked(host)) return None
    if (users.get(name).contains(hash(name, password))) {
      failures.remove(host)
      val token = java.util.UUID.randomUUID().toString.replace("-", "")
      mutate { tokens(token) = name }
      Some(token)
    } else {
      recordFailure(host)
      None
    }
  }

  /** Locally-minted tokens first (no network, constant time), then the
    * OIDC validator — the reference's `oph_auth_user` local check with
    * the token-type fallback chain (`oph_execute_main.c:343-361`). */
  def checkToken(token: String): Option[String] =
    tokens.get(token).orElse(openId.flatMap(_.validate(token)))

  /** Mint a token for an ALREADY-authenticated principal (the login
    * route verifies PASSWORD credentials via `authenticatePassword`
    * first — tokens never mint tokens). */
  def loginAuthenticated(user: String): String = {
    val token = java.util.UUID.randomUUID().toString.replace("-", "")
    mutate { tokens(token) = user }
    token
  }

  /** Like `authenticate` but accepts ONLY Basic user:password — Bearer
    * and the `__token__` convention are rejected, so a leaked token
    * cannot derive fresh tokens that outlive its revocation. */
  def authenticatePassword(header: Option[String]): Option[String] =
    header.filter(_ => localAllowed).map(_.trim)
      .filter(_.regionMatches(true, 0, "Basic ", 0, 6))
      .flatMap { h =>
        val decoded =
          try new String(Base64.getDecoder.decode(h.substring(6).trim),
            StandardCharsets.UTF_8)
          catch { case _: IllegalArgumentException => return None }
        decoded.split(":", 2) match {
          case Array(TokenUser, _) => None
          case Array(user, password)
            if users.get(user).contains(hash(user, password)) => Some(user)
          case _ => None
        }
      }

  def revokeToken(token: String): Unit =
    mutate { tokens.remove(token) }

  /**
   * Resolve an HTTP Authorization header to a user name:
   * `Bearer <token>`, `Basic base64(user:password)`, or
   * `Basic base64(__token__:<token>)` (the reference's token-as-password
   * convention). None = unauthenticated. `host` keys the per-host
   * failure throttle.
   */
  def authenticate(header: Option[String], host: String = ""): Option[String] =
    header.map(_.trim).flatMap {
      case h if h.regionMatches(true, 0, "Bearer ", 0, 7) =>
        checkToken(h.substring(7).trim)
      case h if h.regionMatches(true, 0, "Basic ", 0, 6) =>
        val decoded =
          try new String(Base64.getDecoder.decode(h.substring(6).trim),
            StandardCharsets.UTF_8)
          catch { case _: IllegalArgumentException => return None }
        decoded.split(":", 2) match {
          case Array(TokenUser, token) => checkToken(token)
          case Array(user, password) =>
            if (!localAllowed || blocked(host)) None
            else if (users.get(user).contains(hash(user, password))) {
              failures.remove(host); Some(user)
            } else {
              recordFailure(host)
              None
            }
          case _ => None
        }
      case _ => None
    }
}
