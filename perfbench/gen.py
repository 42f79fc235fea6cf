"""Seeded input generators for the benchmark.

The same seed gives byte-identical files.

* ``sample_base(...)`` derives a seeded base corpus from the repository's
  test corpus vendored in ``perfbench/data/sf0.01``: a seeded 90 % sample
  of the ``documents`` rows with their ids shifted by a seeded offset, and
  the ``embeddings`` rows below a seeded id cut; the other tables are
  copied verbatim. The launcher then replicates the base with the engine's
  own ``graft.MakeScale``, whose per-replica token salt and sign flip
  derive from the (now seeded) largest ids.
* ``telegrams(...)`` writes synthetic TTN V2/V3 uplink telegrams whose
  payloads are port-2/4 frames ``LoRaDecode.decodeFlat`` accepts, with 1-3
  gateways, seeded duplicates, late (out-of-order) telegrams, static-value
  runs and geohash jumps, plus the archive rows a correct pipeline must
  hold.
* ``history(...)`` writes the kits' readings of the hour before the first
  telegram: the rows the live archive already holds when the stream
  starts.
"""
import base64
import datetime as dt
import json
import os
import shutil
import struct

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
KEEP = 0.9
MAX_CUT = 50


def _epoch(y, m, d):
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp())


def sample_base(out, seed, base=BASE):
    """Writes the seeded base corpus into ``out``: a seeded ``KEEP`` share
    of the documents, doc ids shifted by a seeded offset below 1000; the
    embeddings whose id is below the table's size less a seeded cut of at
    most ``MAX_CUT`` (the LSH queries take their hyperplanes from the
    vectors with the smallest ids, so embedding ids stay contiguous from
    0); every other table of ``base`` verbatim."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    for f in sorted(os.listdir(base)):
        src, dst = os.path.join(base, f), os.path.join(out, f)
        if f == "documents.parquet":
            t = pq.read_table(src)
            t = t.filter(rng.random(t.num_rows) < KEEP)
            i = t.schema.get_field_index("doc_id")
            t = t.set_column(i, "doc_id", pc.add(t["doc_id"], int(rng.integers(0, 1000))))
            pq.write_table(t, dst)
        elif f == "embeddings.parquet":
            t = pq.read_table(src)
            cut = t.num_rows - int(rng.integers(0, MAX_CUT + 1))
            pq.write_table(t.filter(pc.less(t["vec_id"], cut)), dst)
        else:
            shutil.copyfile(src, dst)


# ---------------------------------------------------------------- telegrams

def _payload(pm1, pm25, pm10, temp, rh, pres, lat, lon, alt):
    """Port 2/4 frame: type byte 0x8D (PM1 present, meteo with pressure,
    GPS), big-endian u16 values x10, signed i32 coordinates x1e5."""
    b = bytes([0x8D])
    b += struct.pack(">HHH", pm1, pm25, pm10)
    b += struct.pack(">HHHHH", temp + 300, rh, pres, 0, 0)
    b += struct.pack(">iii", lat, lon, alt)
    return base64.b64encode(b).decode()


def _envelope(v3, app, dev, port, counter, b64, iso, gateways):
    if v3:
        return {"end_device_ids": {"device_id": dev, "application_ids": {"application_id": app}},
                "received_at": iso,
                "uplink_message": {"f_port": port, "f_cnt": counter, "frm_payload": b64,
                                   "rx_metadata": [{"gateway_ids": {"gateway_id": g},
                                                    "rssi": r, "snr": s} for g, r, s in gateways]}}
    return {"app_id": app, "dev_id": dev, "port": port, "counter": counter,
            "payload_raw": b64,
            "metadata": {"time": iso, "gateways": [{"gtw_id": g, "rssi": r, "snr": s}
                                                   for g, r, s in gateways]}}


T0 = _epoch(2024, 3, 1)


def _kit_names(seed, kits):
    return [f"kit{seed % 1000:03d}{k:03d}" for k in range(kits)]


def history(path, seed, kits=60, per_kit=12, cadence_s=300):
    """Writes ``per_kit`` earlier readings of every kit to ``path``
    (tab-separated: kit, epoch seconds, PM2.5), all before the first
    telegram's time, and returns them as ``{(kit, ts): pm25}``."""
    rng = np.random.default_rng([seed, 8])
    rows = {}
    for name in _kit_names(seed, kits):
        for j in range(per_kit, 0, -1):
            ts = T0 - j * cadence_s + int(rng.integers(0, 30))
            rows[(name, ts)] = int(rng.integers(20, 900)) / 10.0
    with open(path, "w") as f:
        for (kit, ts), v in rows.items():
            f.write(f"{kit}\t{ts}\t{v!r}\n")
    return rows


def telegrams(path, seed, count, kits=60, cadence_s=300):
    """Writes ``count`` telegrams to ``path`` (tab-separated: kit, event
    epoch seconds, MQTT topic, JSON payload, in send order) and returns the
    expected archive: ``{(kit, ts): pm25}``, one entry per distinct key."""
    rng = np.random.default_rng([seed, 7])
    names = _kit_names(seed, kits)
    home = [(int(rng.integers(5_100_000, 5_300_000)), int(rng.integers(400_000, 700_000)))
            for _ in range(kits)]
    seq = [0] * kits
    static_left = [0] * kits
    last_pm25 = [100] * kits
    out, expected = [], {}
    while len(out) < count:
        k = int(rng.integers(0, kits))
        seq[k] += 1
        ts = T0 + seq[k] * cadence_s + int(rng.integers(0, 30))
        if static_left[k] > 0:
            static_left[k] -= 1
            pm25 = last_pm25[k]
        else:
            pm25 = int(rng.integers(20, 900))
            if rng.random() < 0.04:
                static_left[k] = 6  # a static-value run of the next telegrams
        last_pm25[k] = pm25
        if rng.random() < 0.01:  # geohash jump: the kit moved far away
            home[k] = (home[k][0] + 2_000_000, home[k][1] - 300_000)
        lat, lon = home[k]
        b64 = _payload(max(1, pm25 // 2), pm25, pm25 + int(rng.integers(1, 200)),
                       int(rng.integers(0, 300)), int(rng.integers(200, 900)),
                       int(rng.integers(980, 1040)), lat, lon, int(rng.integers(0, 500)))
        ngw = int(rng.integers(1, 4))
        gws = [(f"gw{int(g)}", -int(rng.integers(30, 120)), int(rng.integers(-10, 12)))
               for g in rng.choice(20, ngw, replace=False)]
        iso = dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
        app, dev = "perfbench", names[k]
        env = _envelope(rng.random() < 0.5, app, dev, int(rng.choice([2, 4])), seq[k], b64, iso, gws)
        rec = (dev, ts, f"{app}/devices/{dev}/up", json.dumps(env, separators=(",", ":")))
        expected[(dev, ts)] = pm25 / 10.0
        if out and rng.random() < 0.04:
            out.insert(len(out) - 1, rec)  # late: sent after the kit's next telegram
        else:
            out.append(rec)
        if rng.random() < 0.03:
            out.append(out[int(rng.integers(max(0, len(out) - 20), len(out)))])  # duplicate
    out = out[:count]
    sent = {(r[0], r[1]) for r in out}
    with open(path, "w") as f:
        for r in out:
            f.write(f"{r[0]}\t{r[1]}\t{r[2]}\t{r[3]}\n")
    return {k: v for k, v in expected.items() if k in sent}
