"""Seeded Heimdal KDC log generator with engine-free ground truth.

Every session is written from the grammar in FIXTURES.md sections 1-2:
AS and TGS sessions, every error class, missing pre-authentication,
referrals, double headers, orphan error lines (no header), a foreign
realm and truncated file tails. The generator knows, for each session it
writes, the record the reference's session fold must produce; `Tally`
folds those records into the seven report tables. No engine code is
involved, so the tallies are an independent oracle for the engine.

User and service choice is Zipf-skewed over a fixed-size population:
`users`/`services` set the cardinality, `zipf_users`/`zipf_services` the
skew. Output is plain text or bzip2, and each built input is cached by
its kind, seed and size under the cache directory.
"""
import bisect
import bz2
import json
import os
import random
import shutil

GENERATOR_VERSION = 9

HOME = "KDC.EXAMPLE.ORG"
FOREIGN = "PARTNER.EXAMPLE.NET"
# Share of sessions whose client is in the foreign realm.
FOREIGN_FRAC = 0.05

ENCTYPE_LISTS = [
    ["aes256-cts-hmac-sha1-96", "aes128-cts-hmac-sha1-96", "des3-cbc-sha1",
     "arcfour-hmac-md5", "25", "26", "des-cbc-crc", "des-cbc-md5",
     "des-cbc-md4"],
    ["aes256-cts-hmac-sha1-96", "aes128-cts-hmac-sha1-96"],
    ["arcfour-hmac-md5", "des-cbc-crc"],
    ["aes128-cts-hmac-sha1-96", "arcfour-hmac-md5", "des3-cbc-sha1"],
]
USED_PAIRS = [
    "aes256-cts-hmac-sha1-96/aes256-cts-hmac-sha1-96",
    "arcfour-hmac-md5/aes256-cts-hmac-sha1-96",
    "aes128-cts-hmac-sha1-96/aes128-cts-hmac-sha1-96",
]
PREAUTH_ETS = ["aes256-cts-hmac-sha1-96", "aes128-cts-hmac-sha1-96",
               "arcfour-hmac-md5"]
SERVICE_KINDS = ["host", "HTTP", "imap", "afs", "ldap", "nfs"]

# (error class, request type, line template). Each line trips exactly
# one classifier trigger and nothing earlier in its precedence order.
ERRORS = [
    ("BAD_PASSWORD", "AS",
     "Failed to decrypt PA-DATA -- {c}@{r} (enctype aes256-cts-hmac-sha1-96) "
     "error Decrypt integrity check failed"),
    ("BAD_NAME", "AS", "UNKNOWN -- {c}@{r}: no such entry found in hdb"),
    ("BAD_NAME", "TGS",
     "Server not found in database: {s}@{r}: no such entry found in hdb"),
    ("UNUSABLE_NAME", "AS", "Client expired -- {c}@{r}"),
    ("UNUSABLE_NAME", "TGS", "Principal may not act as server -- {s}@{r}"),
    ("BAD_AUTHENTICATION", "AS",
     "Too large time skew, client time is out by 4000 > 300 seconds -- {c}@{r}"),
    ("BAD_AUTHENTICATION", "TGS", "krb_rd_req: Decrypt integrity check failed"),
    ("BAD_PARAMETERS", "TGS", "Request to forward non-forwardable ticket"),
    ("UNKNOWN", "TGS", "Failed building TGS-REP to IPv4:{ip}"),
]
# Timestamped verify failures: the line carries its own timestamp, which
# replaces the session's; the record is a BAD_AUTHENTICATION failure.
TS_ERRORS = [
    "Failed to verify AP-REQ: Decrypt integrity check failed",
    "Failed to verify authenticator checksum: bad checksum",
]

# Session mix: kind -> weight. An assumption, not fitted to a traffic
# sample: successful AS and TGS exchanges dominate, so `krbtgt/<realm>`
# (every AS exchange's service) is the heaviest service key, as SURVEY.md
# notes of real KDC logs; errors are about one session in eight.
MIX = [
    ("as_ok", 40), ("tgs_ok", 34), ("tgs_referral", 3), ("as_nopreauth", 4),
    ("error", 11), ("ts_error", 2), ("double_as", 2), ("double_tgs", 2),
    ("orphan", 2),
]


class Record:
    """The fields of one completed session that the reports read."""
    __slots__ = ("valid", "ts", "req", "error_class", "client", "crealm",
                 "service", "srealm", "success", "referral", "preauth_et",
                 "enc_key")

    def __init__(self, valid, ts, req=None, error_class="NO_ERROR",
                 client=None, crealm=None, service=None, srealm=None,
                 success=False, referral=False, preauth_et=None,
                 enc_key=None):
        self.valid, self.ts, self.req = valid, ts, req
        self.error_class = error_class
        self.client, self.crealm = client, crealm
        self.service, self.srealm = service, srealm
        self.success, self.referral = success, referral
        self.preauth_et, self.enc_key = preauth_et, enc_key


class Zipf:
    def __init__(self, n, s):
        acc, self.cum = 0.0, []
        for rank in range(1, n + 1):
            acc += 1.0 / rank ** s
            self.cum.append(acc)

    def draw(self, rng):
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


class Spec:
    def __init__(self, users=2000, services=300, zipf_users=1.1,
                 zipf_services=1.3):
        self.users, self.services = users, services
        self.user_dist = Zipf(users, zipf_users)
        self.service_dist = Zipf(services, zipf_services)

    def user(self, rng):
        return "user%05d" % self.user_dist.draw(rng)

    def service(self, rng):
        i = self.service_dist.draw(rng)
        return "%s/node%03d.example.org" % (SERVICE_KINDS[i % len(SERVICE_KINDS)], i)


def _ts(day, sec):
    return "%sT%02d:%02d:%02d" % (day, sec // 3600, sec // 60 % 60, sec % 60)


def _ip(rng):
    return "IPv4:10.%d.%d.%d" % (rng.randrange(256), rng.randrange(256),
                                  rng.randrange(1, 255))


def _enctypes_line(rng):
    ets = ENCTYPE_LISTS[rng.randrange(len(ENCTYPE_LISTS))]
    used = USED_PAIRS[rng.randrange(len(USED_PAIRS))]
    sep = ", " if rng.random() < 0.5 else " "
    line = "Client supported enctypes: " + ", ".join(ets) + sep.rstrip(" ") \
        + " using " + used
    return line, "%s/%s/%s" % (ets[0], ets[-1], used)


def _as_header(ts, c, r, ip):
    return "%s AS-REQ %s@%s from %s for krbtgt/%s@%s" % (ts, c, r, ip, r, r)


def _tgs_header(ts, c, r, ip, s):
    return "%s TGS-REQ %s@%s from %s for %s@%s [renewable, forwardable]" % (
        ts, c, r, ip, s, r)


def _as_body(ts, c, r, rng, out):
    """Pre-authentication lines of a successful AS exchange; returns the
    pre-auth enctype (None when the success line names none)."""
    et = PREAUTH_ETS[rng.randrange(len(PREAUTH_ETS))] if rng.random() < 0.85 else None
    out.append("%s Client sent patypes: ENC-TS, REQ-ENC-PA-REP" % ts)
    out.append("%s Looking for PK-INIT(ietf) pa-data -- %s@%s" % (ts, c, r))
    out.append("%s Looking for ENC-TS pa-data -- %s@%s" % (ts, c, r))
    if et:
        out.append("%s ENC-TS Pre-authentication succeeded -- %s@%s using %s"
                   % (ts, c, r, et))
    else:
        out.append("%s ENC-TS Pre-authentication succeeded -- %s@%s" % (ts, c, r))
    out.append("%s ENC-TS pre-authentication succeeded -- %s@%s" % (ts, c, r))
    out.append("%s AS-REQ authtime: %s starttime: unset endtime: %s renew till: unset"
               % (ts, ts, ts))
    return et


def _sending(ts, ip, rng):
    return "%s sending %d bytes to %s" % (ts, 200 + rng.randrange(900), ip)


def write_session(rng, spec, day, sec, kinds, out):
    """Append one session's lines to `out`; return its Record."""
    ts = _ts(day, sec)
    realm = FOREIGN if rng.random() < FOREIGN_FRAC else HOME
    c, ip = spec.user(rng), _ip(rng)
    kind = kinds[bisect.bisect_left(kinds.cum, rng.random() * kinds.cum[-1])]
    if kind == "as_ok":
        out.append(_as_header(ts, c, realm, ip))
        et = _as_body(ts, c, realm, rng, out)
        enc, _ = _enctypes_line(rng)
        out.append("%s %s" % (ts, enc))
        out.append("%s Requested flags: renewable-ok, proxiable, forwardable" % ts)
        out.append(_sending(ts, ip, rng))
        return Record(True, ts, "AUTH", client=c, crealm=realm,
                      service="krbtgt/" + realm, srealm=realm, success=True,
                      preauth_et=et)
    if kind in ("tgs_ok", "tgs_referral"):
        s = spec.service(rng)
        out.append(_tgs_header(ts, c, realm, ip, s))
        key = None
        if rng.random() < 0.7:
            enc, key = _enctypes_line(rng)
            out.append("%s %s" % (ts, enc))
        if kind == "tgs_referral":
            out.append("%s Returning a referral to realm %s for server %s."
                       % (ts, FOREIGN, s))
        out.append(_sending(ts, ip, rng))
        return Record(True, ts, "TGS", client=c, crealm=realm, service=s,
                      srealm=realm, success=True,
                      referral=kind == "tgs_referral", enc_key=key)
    if kind == "as_nopreauth":
        out.append(_as_header(ts, c, realm, ip))
        out.append("%s Client sent patypes: REQ-ENC-PA-REP" % ts)
        out.append("%s Need to use PA-ENC-TIMESTAMP/PA-PK-AS-REQ" % ts)
        out.append(_sending(ts, ip, rng))
        return Record(True, ts, "AUTH", client=c, crealm=realm,
                      service="krbtgt/" + realm, srealm=realm)
    if kind == "error":
        cls, req, tmpl = ERRORS[rng.randrange(len(ERRORS))]
        s = spec.service(rng) if req == "TGS" else "krbtgt/" + realm
        if req == "TGS":
            out.append(_tgs_header(ts, c, realm, ip, s))
        else:
            out.append(_as_header(ts, c, realm, ip))
            out.append("%s Client sent patypes: ENC-TS, REQ-ENC-PA-REP" % ts)
        out.append("%s %s" % (ts, tmpl.format(c=c, r=realm, s=s, ip=ip)))
        out.append(_sending(ts, ip, rng))
        return Record(True, ts, "AUTH" if req == "AS" else "TGS",
                      error_class=cls, client=c, crealm=realm, service=s,
                      srealm=realm)
    if kind == "ts_error":
        s = spec.service(rng)
        out.append(_tgs_header(ts, c, realm, ip, s))
        ts2 = _ts(day, min(sec + 1, 86399))
        out.append("%s %s" % (ts2, TS_ERRORS[rng.randrange(len(TS_ERRORS))]))
        out.append(_sending(ts, ip, rng))
        return Record(True, ts2, "TGS", error_class="BAD_AUTHENTICATION",
                      client=c, crealm=realm, service=s, srealm=realm)
    if kind == "double_as":
        # a second header before `sending` overwrites the first one's fields
        c0 = spec.user(rng)
        out.append(_as_header(ts, c0, realm, _ip(rng)))
        out.append(_as_header(ts, c, realm, ip))
        et = _as_body(ts, c, realm, rng, out)
        out.append(_sending(ts, ip, rng))
        return Record(True, ts, "AUTH", client=c, crealm=realm,
                      service="krbtgt/" + realm, srealm=realm, success=True,
                      preauth_et=et)
    if kind == "double_tgs":
        s0, s = spec.service(rng), spec.service(rng)
        out.append(_tgs_header(ts, spec.user(rng), realm, _ip(rng), s0))
        out.append(_tgs_header(ts, c, realm, ip, s))
        out.append(_sending(ts, ip, rng))
        return Record(True, ts, "TGS", client=c, crealm=realm, service=s,
                      srealm=realm, success=True)
    # orphan: an error line and a terminator with no header before them
    out.append("%s UNKNOWN -- %s@%s: no such entry found in hdb" % (ts, c, realm))
    out.append(_sending(ts, ip, rng))
    return Record(False, None, error_class="BAD_NAME")


class _Kinds(list):
    def __init__(self):
        super().__init__(k for k, _ in MIX)
        acc, self.cum = 0, []
        for _, w in MIX:
            acc += w
            self.cum.append(acc)


KINDS = _Kinds()


def gen_log(seed, key, spec, day, n_sessions, truncate):
    """One log file's text and the records of its completed sessions.

    `key` names the file within the seed's input, so each file's content
    depends only on (seed, key) and not on generation order."""
    rng = random.Random("%s/%s" % (seed, key))
    out, recs = [], []
    step = max(1, 2 * 86000 // max(1, n_sessions))
    sec = rng.randrange(60)
    for _ in range(n_sessions):
        recs.append(write_session(rng, spec, day, sec, KINDS, out))
        sec = min(sec + rng.randrange(step), 86000)
    text = "\n".join(out) + "\n"
    if truncate:
        # the file ends inside a session: its header and part of a line
        ts, c = _ts(day, sec), spec.user(rng)
        text += _as_header(ts, c, HOME, _ip(rng)) + "\n"
        text += "%s Looking for PK-INIT(ietf) pa-da" % ts
    return text, recs


class Tally:
    """Mergeable partial aggregates over records, and the reports they
    imply, in the TSV text the engine's report sink writes."""

    def __init__(self):
        self.users, self.services = {}, {}
        self.user_ets, self.service_ets = {}, {}
        self.errors, self.clients, self.client_services = {}, {}, {}
        self.user_days = {}
        self.sessions = 0

    @staticmethod
    def _bump(d, k, ts):
        v = d.get(k)
        if v is None:
            d[k] = [1, ts, ts]
        else:
            v[0] += 1
            if ts < v[1]:
                v[1] = ts
            if ts > v[2]:
                v[2] = ts

    def add(self, r, realm=HOME):
        self.sessions += 1
        if not r.valid:
            return
        self.clients[r.client] = self.clients.get(r.client, 0) + 1
        if not r.success:
            b = "MISSING_PREAUTH" if r.error_class == "NO_ERROR" else r.error_class
            self.errors[b] = self.errors.get(b, 0) + 1
            return
        if r.referral:
            return
        if r.req == "AUTH" and r.crealm == realm:
            self._bump(self.users, r.client, r.ts)
            k = (r.ts[:10], r.client)
            self.user_days[k] = self.user_days.get(k, 0) + 1
            self._bump(self.user_ets, (r.client, r.preauth_et or "UNK"), r.ts)
        if r.req == "TGS":
            self.client_services.setdefault(r.client, set()).add(r.service)
            if r.srealm == realm:
                self._bump(self.services, r.service, r.ts)
                self._bump(self.service_ets, (r.service, r.enc_key or "UNK"), r.ts)

    def merge(self, other):
        for mine, theirs in ((self.users, other.users),
                             (self.services, other.services),
                             (self.user_ets, other.user_ets),
                             (self.service_ets, other.service_ets)):
            for k, (n, lo, hi) in theirs.items():
                v = mine.get(k)
                if v is None:
                    mine[k] = [n, lo, hi]
                else:
                    v[0] += n
                    v[1], v[2] = min(v[1], lo), max(v[2], hi)
        for mine, theirs in ((self.errors, other.errors),
                             (self.clients, other.clients),
                             (self.user_days, other.user_days)):
            for k, n in theirs.items():
                mine[k] = mine.get(k, 0) + n
        for k, s in other.client_services.items():
            self.client_services.setdefault(k, set()).update(s)
        self.sessions += other.sessions

    def reports(self, top_n=10, few_k=2):
        """Report name -> sorted TSV lines."""
        def lines(rows):
            return sorted("\t".join(str(x) for x in row) for row in rows)
        top = sorted(self.clients.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n]
        return {
            "user": lines((c, lo, hi, n) for c, (n, lo, hi) in self.users.items()),
            "service": lines((s, lo, hi, n) for s, (n, lo, hi) in self.services.items()),
            "errors": lines(self.errors.items()),
            "user-enctypes": lines((c, e, n, lo, hi)
                                   for (c, e), (n, lo, hi) in self.user_ets.items()),
            "service-enctypes": lines((s, k, n, lo, hi)
                                      for (s, k), (n, lo, hi) in self.service_ets.items()),
            "top-users": lines(top),
            "few-services": lines((c, len(s)) for c, s in self.client_services.items()
                                  if len(s) <= few_k),
        }

    def user_days_report(self):
        """Successful auths per (day, client): the line-level streaming
        reader's report, which the batch report set does not include."""
        return sorted("%s\t%s\t%d" % (d, c, n) for (d, c), n in self.user_days.items())

    def to_json(self):
        return {
            "users": self.users, "services": self.services,
            "user_ets": [[k[0], k[1], v] for k, v in self.user_ets.items()],
            "service_ets": [[k[0], k[1], v] for k, v in self.service_ets.items()],
            "errors": self.errors, "clients": self.clients,
            "user_days": [[k[0], k[1], v] for k, v in self.user_days.items()],
            "client_services": {k: sorted(v) for k, v in self.client_services.items()},
            "sessions": self.sessions,
        }

    @classmethod
    def from_json(cls, d):
        t = cls()
        t.users, t.services = d["users"], d["services"]
        t.user_ets = {(a, b): v for a, b, v in d["user_ets"]}
        t.service_ets = {(a, b): v for a, b, v in d["service_ets"]}
        t.errors, t.clients = d["errors"], d["clients"]
        t.user_days = {(a, b): v for a, b, v in d["user_days"]}
        t.client_services = {k: set(v) for k, v in d["client_services"].items()}
        t.sessions = d["sessions"]
        return t


def tally_of(recs):
    t = Tally()
    for r in recs:
        t.add(r)
    return t


def _write(path, text, compress):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = text.encode()
    with open(path, "wb") as f:
        # 100k blocks: many blocks per file, so splits fall inside it
        f.write(bz2.compress(data, 1) if compress else data)
    return len(data)


def _days(n):
    return ["2015-11-%02d" % (1 + d) for d in range(n)]


def build_fleet(root, seed, hosts, days, sessions_per_file, spec):
    """`host=kdcH/day=D/kdc.log` plain logs; a quarter end truncated."""
    total, raw = Tally(), 0
    for h in range(hosts):
        for i, day in enumerate(_days(days)):
            text, recs = gen_log(seed, "fleet/%d/%s" % (h, day), spec, day,
                                 sessions_per_file, truncate=(h + i) % 4 == 0)
            raw += _write(os.path.join(root, "host=kdc%d" % h, "day=%s" % day,
                                       "kdc.log"), text, False)
            total.merge(tally_of(recs))
    return {"tally": total.to_json(), "raw_bytes": raw}


def build_archive(root, seed, files, sessions_per_file, spec, compress=True):
    """`files` large logs in one directory, bzip2 unless `compress` is
    false; each covers one day."""
    total, raw = Tally(), 0
    for f in range(files):
        text, recs = gen_log(seed, "archive/%d" % f, spec, "2015-12-%02d" % (1 + f),
                             sessions_per_file, truncate=f % 2 == 0)
        name = "kdc-%d.log" % f + (".bz2" if compress else "")
        raw += _write(os.path.join(root, name), text, compress)
        total.merge(tally_of(recs))
    return {"tally": total.to_json(), "raw_bytes": raw}


def build_stream(root, seed, refreshes, hosts, sessions_per_file, spec):
    """A pool of refreshes, each a `refresh=N/host=kdcH/kdc.log` tree that
    the benchmark lands whole; the tally of each refresh is kept apart so
    the state after any prefix of refreshes can be checked."""
    units, raw = [], 0
    for n in range(refreshes):
        t = Tally()
        day = "2016-01-%02d" % (1 + n * 28 // max(1, refreshes))
        for h in range(hosts):
            text, recs = gen_log(seed, "stream/%d/%d" % (n, h), spec, day,
                                 sessions_per_file, truncate=(n + h) % 5 == 0)
            raw += _write(os.path.join(root, "refresh=%05d" % n, "host=kdc%d" % h,
                                       "kdc.log"), text, False)
            t.merge(tally_of(recs))
        units.append(t.to_json())
    with open(os.path.join(root, os.pardir, "sessions.txt"), "w") as f:
        f.write("".join("%d\n" % u["sessions"] for u in units))
    return {"units": units, "raw_bytes": raw}


BUILDERS = {"fleet": build_fleet, "archive": build_archive, "stream": build_stream}

# A small input of the same shape, which set-up's cold pass and the
# fleet's first warm-up sets read, so set-up time does not grow with the
# measured input's size.
WARMUP = {"fleet": dict(hosts=1, days=2, sessions_per_file=250),
          "archive": dict(files=1, sessions_per_file=400)}


def cached(cache_root, kind, seed, spec, **params):
    """Build (or reuse) one input; returns (data dir, metadata). `spec`
    holds the `Spec` arguments; they are part of the cache key. Batch
    inputs get a `warmup` sibling of the data dir (see WARMUP)."""
    key = dict(params, **spec)
    tag = "-".join("%s%s" % (k, key[k]) for k in sorted(key))
    base = os.path.join(cache_root, "%s-v%d-s%s-%s" % (kind, GENERATOR_VERSION,
                                                       seed, tag))
    meta_path = os.path.join(base, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return os.path.join(base, "data"), json.load(f)
    tmp = base + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    meta = BUILDERS[kind](os.path.join(tmp, "data"), seed, spec=Spec(**spec),
                          **params)
    if kind in WARMUP:
        meta["warmup"] = BUILDERS[kind](os.path.join(tmp, "warmup"), "%s-warmup" % seed,
                                        spec=Spec(**spec), **WARMUP[kind])
    meta.update(kind=kind, seed=seed, params=key)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(base, ignore_errors=True)
    os.rename(tmp, base)
    return os.path.join(base, "data"), meta

