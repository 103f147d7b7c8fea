"""Seeded payload generator for the scheduler-tick workloads.

Grows the committed provider fixtures (`src/test/resources/fixtures`)
by one uniform device multiplier: every fixture device is copied
`copies` times, each copy with a seed-derived id and a seed-derived
timestamp shift of 0-20 minutes (0 for cmu, whose timestamps come from
shared file names).  It writes

- `sources/`: 16 source configs, all active, all `hour`;
- `h0/`: the payloads of the timed hour (tick-cold, and the state
  tick-steady starts from);
- `h1/`: the same devices one hour later, where the seed changes the
  site name (purpleair, habitatmap) or latitude (cmu) of 1 % of the
  stations.

The expected summary row of a provider follows from its per-device
facts in `BASE` (the rows of one fixture copy that survive the
provider's filters, derived from the pipeline code) and the shifts the
generator drew.  The same seed gives byte-identical files.
"""
import csv
import datetime as dt
import json
import os
import random

PROVIDERS = ["aernode", "airgradient", "airqo", "airqoon", "clarity", "cmu",
             "cpcb", "data354", "habitatmap", "hawanama", "iqair",
             "lovemyair", "miri", "purpleair", "senstate", "smartsense"]
# Station-object providers, whose stations go through the K1 diff-write;
# the seed changes stations of the first three.
STATION_PROVIDERS = ["cmu", "habitatmap", "purpleair", "senstate"]
MAX_SHIFT_MIN = 20
UTC = dt.timezone.utc

# Per fixture copy: locations, measures, and the first and last measure
# timestamp (UTC) of the summary row, at the unshifted hour.  A copy's
# minute shift moves its output timestamps except for the providers in
# UNSHIFTED (airgradient truncates to the hour; cmu takes its time from
# the file name).  airqoon caps its locations at 100.
BASE = {
    "aernode": (1, 6, "2024-04-30T10:00", "2024-04-30T12:00"),
    "airgradient": (1, 8, "2024-04-30T10:00", "2024-04-30T12:00"),
    "airqo": (2, 3, "2024-04-30T10:00", "2024-04-30T10:00"),
    "airqoon": (2, 1, "2024-04-30T10:00", "2024-04-30T10:00"),
    "clarity": (2, 2, "2026-08-12T10:00", "2026-08-12T10:05"),
    "cmu": (3, 33, "2020-07-17T15:30", "2020-07-17T15:45"),
    "cpcb": (1, 2, "2024-04-30T10:00", "2024-04-30T11:00"),
    "data354": (1, 3, "2024-04-30T11:00", "2024-04-30T12:00"),
    "habitatmap": (4, 1, "2024-04-30T10:00", "2024-04-30T10:00"),
    "hawanama": (3, 3, "2026-08-12T10:00", "2026-08-12T11:00"),
    "iqair": (1, 12, "2024-04-30T01:00", "2024-04-30T12:00"),
    "lovemyair": (2, 4, "2024-04-30T09:00", "2024-04-30T11:00"),
    "miri": (2, 7, "2024-04-30T09:00", "2024-04-30T11:00"),
    "purpleair": (2, 26, "2024-04-30T18:00", "2024-04-30T18:01"),
    "senstate": (1, 2, "2024-04-30T10:00", "2024-04-30T10:00"),
    "smartsense": (1, 2, "2024-04-30T10:00", "2024-04-30T12:00"),
}
# One hour later the fixed "now" windows keep different rows:
# airgradient's lagged [-3 h, -1 h] buckets lose the 11:30 reading, and
# cpcb's 3 h IST recency cutoff now admits the 13:30 reading.
BASE_H1 = {
    "airgradient": (1, 5, "2024-04-30T11:00", "2024-04-30T12:00"),
    "cpcb": (1, 3, "2024-04-30T09:00", "2024-04-30T12:00"),
}
UNSHIFTED = {"airgradient", "cmu"}
LOCATION_CAP = {"airqoon": 100}


def _fixture(root, name):
    with open(os.path.join(root, name), encoding="utf-8") as f:
        return f.read()


def _dump(path, doc):
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f, separators=(",", ":"), ensure_ascii=False)


def _iso(text, delta, fmt):
    t = dt.datetime.strptime(text, fmt) + delta
    return t.strftime(fmt)


class _Copy:
    """One copy of a provider's fixture devices."""

    def __init__(self, index, id_base, shift_min, hour):
        self.index = index
        self.num = id_base + index
        self.delta = dt.timedelta(minutes=shift_min, hours=hour)

    def sid(self, orig):
        return f"{orig}-{self.num}"

    def nid(self, orig):
        return int(orig) + 1000 * self.num

    def z(self, text):  # "2024-04-30T08:00:00Z"
        return _iso(text, self.delta, "%Y-%m-%dT%H:%M:%SZ")

    def naive(self, text, sep="T"):
        return _iso(text, self.delta, f"%Y-%m-%d{sep}%H:%M:%S")

    def epoch_s(self, t):
        return int(t + self.delta.total_seconds())

    def epoch_ms(self, t):
        return int(t + self.delta.total_seconds() * 1000)


def _purpleair(fx, copies, changed):
    data = []
    for c in copies:
        for row in fx["data"]:
            r = list(row)
            r[0] = c.epoch_s(r[0])
            r[1] = c.nid(r[1])
            if (c.index, row[1]) in changed:
                r[3] = r[3] + " (renamed)"
            data.append(r)
    return {"fields": fx["fields"], "data": data}


def _clarity(fx, copies, changed):
    return {
        "datasources": [dict(d, datasourceId=c.sid(d["datasourceId"]))
                        for c in copies for d in fx["datasources"]],
        "data": [dict(m, datasourceId=c.sid(m["datasourceId"]),
                      time=c.z(m["time"]))
                 for c in copies for m in fx["data"]],
        "locations": [dict(lo, datasourceId=c.sid(lo["datasourceId"]))
                      for c in copies for lo in fx["locations"]]}


def _habitatmap(fx, copies, changed):
    def session(c, s):
        streams = {k: dict(v, id=c.nid(v["id"]))
                   for k, v in s["streams"].items()}
        out = dict(s, id=c.nid(s["id"]), streams=streams)
        if "end_time_local" in s:
            out["end_time_local"] = c.naive(s["end_time_local"])
        if (c.index, s["id"]) in changed:
            out["title"] = s["title"] + " (renamed)"
        return out
    fixed = [session(c, s) for c in copies for s in fx["fixed"]["sessions"]]
    pages = []
    for page in fx["mobile_pages"]:
        sessions = [session(c, s) for c in copies for s in page["sessions"]]
        pages.append({"sessions": sessions,
                      "fetchableSessionsCount":
                          len(copies) * len(fx["mobile_pages"])})
    meas = [dict(m, stream_id=c.nid(m["stream_id"]),
                 time=c.epoch_ms(m["time"]))
            for c in copies for m in fx["measurements"]]
    return {"fixed": {"sessions": fixed}, "mobile_pages": pages,
            "measurements": meas}


def _aernode(fx, copies, changed):
    return {"devices": [dict(d, device_id=c.sid(d["device_id"]))
                        for c in copies for d in fx["devices"]],
            "measurements": [dict(m, device_id=c.sid(m["device_id"]),
                                  time=c.z(m["time"]))
                             for c in copies for m in fx["measurements"]]}


def _airgradient(fx, copies, changed):
    return {"devices": [dict(d, locationId=c.sid(d["locationId"]))
                        for c in copies for d in fx["devices"]],
            "measures": [dict(m, locationId=c.sid(m["locationId"]),
                              date=c.z(m["date"]))
                         for c in copies for m in fx["measures"]]}


def _airqo(fx, copies, changed):
    cohorts = []
    for cohort in fx["cohorts"]:
        cohorts.append({"measurements": [
            dict(m, site_id=c.sid(m["site_id"]), device=c.sid(m["device"]),
                 time=c.z(m["time"]))
            for c in copies for m in cohort["measurements"]]})
    return {"cohorts": cohorts}


def _airqoon(fx, copies, changed):
    return {"Data": [dict(d, Id=c.sid(d["Id"]))
                     for c in copies for d in fx["Data"]],
            "telemetry": [dict(t, deviceId=c.sid(t["deviceId"]),
                               DateTime=c.z(t["DateTime"]))
                          for c in copies for t in fx["telemetry"]]}


def _data354(fx, copies, changed):
    return {"stations": [dict(s, station_id=c.sid(s["station_id"]))
                         for c in copies for s in fx["stations"]],
            "measurements": [dict(m, station_id=c.sid(m["station_id"]),
                                  timestamp=c.z(m["timestamp"]))
                             for c in copies for m in fx["measurements"]]}


def _hawanama(fx, copies, changed):
    return {"locations": [dict(lo, location_id=c.nid(lo["location_id"]))
                          for c in copies for lo in fx["locations"]],
            "measurements": [dict(m, location_id=c.nid(m["location_id"]),
                                  datetime=c.z(m["datetime"]))
                             for c in copies for m in fx["measurements"]]}


def _lovemyair(fx, copies, changed):
    sites = [dict(s, siteId=c.sid(s["siteId"]), parameters=[
        dict(p, parameterId=c.sid(p["parameterId"]))
        for p in s["parameters"]]) for c in copies for s in fx["sites"]]
    meas = [dict(m, parameterId=c.sid(m["parameterId"]),
                 postDate=c.z(m["postDate"]))
            for c in copies for m in fx["measurements"]]
    return {"sites": sites, "measurements": meas}


def _miri(fx, copies, changed):
    header, devices = fx["devices"][0], fx["devices"][1:]
    return {"devices": [header] + [dict(d, device_id=c.sid(d["device_id"]))
                                   for c in copies for d in devices],
            "measurements": [dict(m, device_id=c.sid(m["device_id"]),
                                  date_added=c.naive(m["date_added"], " "))
                             for c in copies for m in fx["measurements"]]}


def _senstate(fx, copies, changed):
    readings = []
    for c in copies:
        for r in fx["readings"]:
            readings.append(dict(r, token=c.sid(r["token"]), measurements=[
                dict(m, date={"utc": c.z(m["date"]["utc"])})
                for m in r["measurements"]]))
    return {"readings": readings}


def _smartsense(fx, copies, changed):
    return {"devices": [dict(d, deviceId=c.sid(d["deviceId"]))
                        for c in copies for d in fx["devices"]],
            "measurements": [dict(m, deviceId=c.sid(m["deviceId"]),
                                  time=c.epoch_s(m["time"]))
                             for c in copies for m in fx["measurements"]]}


JSON_BUILDERS = {
    "aernode": _aernode, "airgradient": _airgradient, "airqo": _airqo,
    "airqoon": _airqoon, "clarity": _clarity, "data354": _data354,
    "habitatmap": _habitatmap, "hawanama": _hawanama,
    "lovemyair": _lovemyair, "miri": _miri, "purpleair": _purpleair,
    "senstate": _senstate, "smartsense": _smartsense}


def _read_csv(path):
    with open(path, newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    return rows[0], rows[1:]


def _write_csv(path, header, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _iqair(fxdir, out, copies, changed):
    header, rows = _read_csv(os.path.join(fxdir, "iqair.csv"))
    path = os.path.join(out, "iqair.csv")
    _write_csv(path, header, [
        [c.sid(r[0]), c.z(r[1])] + r[2:] for c in copies for r in rows])
    return path


def _cpcb(fxdir, out, copies, changed):
    d = os.path.join(out, "cpcb")
    os.makedirs(d)
    header, rows = _read_csv(os.path.join(fxdir, "cpcb", "stations.csv"))
    _write_csv(os.path.join(d, "stations.csv"), header,
               [[c.sid(r[0])] + r[1:] for c in copies for r in rows])
    header, rows = _read_csv(os.path.join(fxdir, "cpcb", "measurements.csv"))
    _write_csv(os.path.join(d, "measurements.csv"), header, [
        [c.sid(r[0]), r[1], r[2], c.naive(r[3], " ")]
        for c in copies for r in rows])
    return d


def _cmu(fxdir, out, copies, changed, hour):
    d = os.path.join(out, "cmu")
    os.makedirs(d)
    src = os.path.join(fxdir, "cmu")
    for name in sorted(os.listdir(src)):
        header, rows = _read_csv(os.path.join(src, name))
        stamp = dt.datetime.strptime(name, "Location_Data %Y-%m-%d %H_%M.csv")
        stamp += dt.timedelta(hours=hour)
        target = stamp.strftime("Location_Data %Y-%m-%d %H_%M.csv")
        body = []
        for c in copies:
            for r in rows:
                r = list(r)
                if (c.index, r[1]) in changed:
                    r[2] = f"{float(r[2]) + 0.01:.2f}"
                r[1] = c.sid(r[1])
                body.append(r)
        _write_csv(os.path.join(d, target), header, body)
    return d


def _station_keys(fxdir):
    """Station identities of one fixture copy, per station provider."""
    pa = json.loads(_fixture(fxdir, "purpleair.json"))
    hm = json.loads(_fixture(fxdir, "habitatmap.json"))
    cmu = set()
    for name in os.listdir(os.path.join(fxdir, "cmu")):
        cmu.update(r[1] for r in _read_csv(
            os.path.join(fxdir, "cmu", name))[1])
    return {"purpleair": [r[1] for r in pa["data"]],
            "habitatmap": [s["id"] for s in hm["fixed"]["sessions"]] +
                          [s["id"] for p in hm["mobile_pages"]
                           for s in p["sessions"]],
            "cmu": sorted(cmu)}


def _ts(text):
    return dt.datetime.strptime(text, "%Y-%m-%dT%H:%M").replace(tzinfo=UTC)


def _fmt(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def expected_summary(provider, copies, shifts, hour):
    locs, meas, first, last = (BASE_H1 if hour else {}).get(
        provider, BASE[provider])
    delta = dt.timedelta(hours=hour if provider not in BASE_H1 else 0)
    lo = hi = dt.timedelta(0)
    if provider not in UNSHIFTED:
        lo = dt.timedelta(minutes=min(shifts))
        hi = dt.timedelta(minutes=max(shifts))
    n_locs = locs * copies
    if provider in LOCATION_CAP:
        n_locs = min(n_locs, LOCATION_CAP[provider])
    return {"locations": n_locs, "measures": meas * copies,
            "from": _fmt(_ts(first) + delta + lo),
            "to": _fmt(_ts(last) + delta + hi)}


def generate(fxdir, out, seed, copies):
    """Write all inputs under `out`; return the manifest: input paths,
    expected summary rows and the number of changed stations."""
    rng = random.Random(seed)
    id_base = rng.randrange(10**5, 10**6) * 10**4
    shifts = {p: [0 if p in UNSHIFTED else rng.randrange(MAX_SHIFT_MIN + 1)
                  for _ in range(copies)] for p in PROVIDERS}
    changed = {}
    for p, keys in sorted(_station_keys(fxdir).items()):
        stations = [(j, k) for j in range(copies) for k in keys]
        changed[p] = set(rng.sample(stations, max(1, len(stations) // 100)))

    os.makedirs(os.path.join(out, "sources"))
    for p in PROVIDERS:
        _dump(os.path.join(out, "sources", f"{p}.json"),
              {"schema": "v1", "provider": p, "frequency": "hour",
               "active": True, "meta": {"url": "recorded"}})

    manifest = {"seed": seed, "copies": copies,
                "config_dir": os.path.join(out, "sources"),
                "inputs": {}, "expected": {},
                "changed_stations": {p: len(changed.get(p, ()))
                                     for p in STATION_PROVIDERS}}
    for hour in (0, 1):
        hdir = os.path.join(out, f"h{hour}")
        os.makedirs(hdir)
        inputs, expected = {}, {}
        for p in PROVIDERS:
            cs = [_Copy(j, id_base, shifts[p][j], hour)
                  for j in range(copies)]
            chg = changed.get(p, set()) if hour else set()
            if p in JSON_BUILDERS:
                fx = json.loads(_fixture(fxdir, f"{p}.json"))
                path = os.path.join(hdir, f"{p}.json")
                _dump(path, JSON_BUILDERS[p](fx, cs, chg))
            elif p == "iqair":
                path = _iqair(fxdir, hdir, cs, chg)
            elif p == "cpcb":
                path = _cpcb(fxdir, hdir, cs, chg)
            else:
                path = _cmu(fxdir, hdir, cs, chg, hour)
            inputs[p] = path
            expected[p] = expected_summary(p, copies, shifts[p], hour)
        manifest["inputs"][f"h{hour}"] = inputs
        manifest["expected"][f"h{hour}"] = expected
    return manifest
