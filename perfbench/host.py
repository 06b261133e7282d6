"""Host-state counters bracketing a run (the same readings tools/anchor_bench.py
takes), so a run measured in a slow host window can be identified: load
average, steal/iowait/busy share of CPU time, pressure-stall totals and the
advertised core clock."""
import os


def _proc_stat():
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return {"total": sum(vals[:8]), "idle": vals[3], "iowait": vals[4],
                "steal": vals[7] if len(vals) > 7 else 0}
    except (OSError, ValueError, IndexError):
        return None


def _psi():
    out = {}
    for res in ("cpu", "io", "memory"):
        try:
            with open(f"/proc/pressure/{res}") as f:
                for line in f:
                    out[f"{res}_{line.split()[0]}"] = int(line.rsplit("total=", 1)[1])
        except (OSError, ValueError, IndexError):
            pass
    return out or None


def _mhz():
    try:
        with open("/proc/cpuinfo") as f:
            mhz = [float(line.split(":")[1]) for line in f if line.startswith("cpu MHz")]
        return {"mean": round(sum(mhz) / len(mhz)), "min": round(min(mhz))} if mhz else None
    except (OSError, ValueError):
        return None


def sample():
    return {"load": [round(x, 2) for x in os.getloadavg()], "stat": _proc_stat(),
            "psi": _psi(), "mhz": _mhz()}


def _delta(a, b):
    if a is None or b is None:
        return None
    return {k: b[k] - a.get(k, 0) for k in b}


def bracket(before, after):
    stat = _delta(before["stat"], after["stat"])
    if stat and stat["total"] > 0:
        for k in ("steal", "iowait"):
            stat[f"{k}_pct"] = round(100.0 * stat[k] / stat["total"], 2)
        stat["busy_pct"] = round(100.0 * (stat["total"] - stat["idle"]) / stat["total"], 1)
    return {"load_before": before["load"], "load_after": after["load"],
            "proc_stat_delta": stat, "psi_total_delta_usec": _delta(before["psi"], after["psi"]),
            "cpu_mhz": {"before": before["mhz"], "after": after["mhz"]}}
