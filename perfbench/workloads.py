"""The benchmark's workloads: what each runs, and why.

medallion: the paper's bronze -> silver -> views DAG, one
``graft.pipeline.Medallion.run`` per phase (cold, re-run, delta).

catalog_fast: a fixed slice of the registered queries
(``graft.SparkEntry.queries``) that took under 1 s in ``bench.json`` and
need no warm state beyond streaming staging. ``--seed`` only orders it.
"""

HEAP = "4g"

# build eagerly: several Spark jobs run before the timed action
EAGER_BUILD = [
    "curation_curriculum_order", "i3_upsert_dedup",
    "k11_dynamic_partition_overwrite", "k7_quarantine_sink",
    "s11_xml_source", "s9c_jsonl_gzip"]

# a micro-batch stream with state, over the staged event files
STREAMING = ["st12_tws_running_totals"]

# three evenly spaced, in name order, from the other candidates that ran
# under 0.5 s on 4 cores
SAMPLE = ["a12_cube", "f16_try_functions", "p11_string_contains"]

WORKLOADS = {
    "medallion": {"kind": "medallion"},
    "catalog_fast": {"kind": "catalog", "warm": ["streaming"],
                     "queries": EAGER_BUILD + STREAMING + SAMPLE},
}
