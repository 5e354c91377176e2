"""Metric names, units and directions that run.py reports; they match
BENCHMARK.json, whose bounds compare.py applies.

End-to-end metrics are measured with tracing off; per-layer metrics come
from a separate traced run. Each per-layer metric names the end-to-end
metric and workload it should move, written down before any change is
measured against it.
"""

# BENCHMARK.json lists era5_steady and operator_gates. era5_backfill runs
# the same way by hand; a 12-month backfill does not fit the time budget of
# the benchmark's repeated runs.
WORKLOADS = ["era5_backfill", "era5_steady", "operator_gates"]

# The operation of each workload: one steady cycle (land one month +
# Cycle.run), one pass over the gates, one 12-month backfill (one landing
# call + 12 cycles).
END_TO_END = {
    "op_s_p50": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "live_heap_peak_mb": ("MB", "lower"),
}

# The gates of operator_gates: two fixpoint loops and two gates whose
# operators end in presentation sorts.
GATES = ["g01_pagerank", "g07_kcore", "q74_basket_lift", "e01_fuzzy_pairs"]

BOTH_ERA5_CYCLE = "op_s_p50 on era5_steady and era5_backfill"

# name -> (unit, better, what it should move)
PER_LAYER = {
    # sources: landing (Grib1.readRecords -> Africa clip -> writePartitioned)
    "land.s": ("s", "lower", "op_s_p50 on era5_steady; less so era5_backfill and setup_s"),
    "land.tasks": ("count", "higher", "op_s_p50 on era5_steady"),
    "land.cpu_s": ("s", "lower", "op_s_p50 on era5_steady"),
    "land.bytes_in": ("bytes", "lower", "op_s_p50 on era5_steady"),
    "land.bytes_out": ("bytes", "lower", "op_s_p50 on era5_steady"),
    "land.keep_ratio": ("ratio", "higher", "nothing: fixed by the clip geometry"),
    # functions: the GeoContains clip kernel
    "clip.s": ("s", "lower", BOTH_ERA5_CYCLE + "; not operator_gates"),
    "clip.edge_tests": ("count", "lower", BOTH_ERA5_CYCLE + "; not operator_gates"),
    # control: forage, normals, commit, export
    "forage.s": ("s", "lower", BOTH_ERA5_CYCLE),
    "normals.built": ("count", "lower", "op_s_p50 on era5_backfill; 0 on era5_steady"),
    "normals.hit_ratio": ("ratio", "higher", "op_s_p50 on era5_backfill; 1 on era5_steady"),
    "commit.s": ("s", "lower", BOTH_ERA5_CYCLE),
    "export.s": ("s", "lower", BOTH_ERA5_CYCLE),
    "outputs.bytes": ("bytes", "lower", "op_s_p50 on era5_steady"),
    "control_json.bytes": ("bytes", "lower", "op_s_p50 on era5_steady"),
    # Spark, per Cycle.run
    "cycle.jobs": ("count", "lower", BOTH_ERA5_CYCLE),
    "cycle.tasks": ("count", "lower", BOTH_ERA5_CYCLE),
    "cycle.cpu_s": ("s", "lower", BOTH_ERA5_CYCLE),
    "cycle.gc_s": ("s", "lower", BOTH_ERA5_CYCLE),
    "cycle.shuffle_write_bytes": ("bytes", "lower", BOTH_ERA5_CYCLE),
    "cycle.spill_bytes": ("bytes", "lower", BOTH_ERA5_CYCLE),
    # operators and Session, per gate and in total
    **{f"gate.{g}.{m}": (u, "lower",
                         "op_s_p50 on operator_gates; neither ERA5 workload")
       for g in GATES
       for m, u in (("build_s", "s"), ("action_s", "s"), ("jobs", "count"),
                    ("checkpoint_bytes", "bytes"))},
    "gates.shuffle_write_bytes": ("bytes", "lower", "op_s_p50 on operator_gates"),
    "gates.gc_s": ("s", "lower", "op_s_p50 on operator_gates"),
    "failed_frac": ("ratio", "lower", "nothing: 0 on every workload"),
}
