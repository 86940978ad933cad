"""The benchmark's workloads: which calls into graft each one makes, on
which data, and which oracle checks each output.

Every workload is one client calling graft's public functions one after
another (a closed loop), in a fresh JVM per pass. The seed sets the call
order wherever the calls do not depend on each other; the data is the
committed seed-42 test data."""
import random

# PipelineRunner's six models, each checked against the gate that builds
# the same table. The fact model also keeps its join keys and load time;
# it is checked on the gate's columns, the model's public surface
# (GoldFact.verifiedColumns).
PIPELINE_MODELS = {
    "stg_trips_unified": "q_silver_union",
    "dim_date": "q_dim_date",
    "dim_zone": "q_dim_zone",
    "dim_payment_type": "q_dim_payment_type",
    "dim_rate_code": "q_dim_rate_code",
    "fct_trips": "q_fct_trips",
}

# The analytics notebook's seven queries.
ANALYTICS = ["q_monthly_agg", "q_demand_by_zone", "q_revenue_tips",
             "q_duration_percentiles", "q_hourly_matrix", "q_speed_band",
             "q_coverage_matrix"]

# A fixed slice of the gate surface, one or two gates per layer. The set
# is named rather than sampled per seed so that every seed runs the same
# work and gates added elsewhere do not change it; it leaves out the
# strategy twins the duplicate-path audit may remove (ROADMAP D3), and
# keeps the one gate whose oracle does not finish, so that its output is
# shown as unverified rather than silently absent.
SWEEP_GATES = [
    "q_gopher_rules", "q_domain_reweight",      # text functions
    "q_dsv2_source",                            # sources
    "q_tpch_q9",                                # operators
    "q_pagerank",                               # graph, size-selected regime
    "q_media_neardup",                          # custom expressions
    "q_stream_join", "q_stream_dedup",          # streaming
]


class Workload:
    def __init__(self, name, sf, required_stages):
        self.name, self.sf = name, sf
        # Staged key prefixes a pass must build itself: a pass that
        # found one of these already built measured a cached artifact
        self.required_stages = required_stages

    def steps(self, seed):
        raise NotImplementedError


class Elt(Workload):
    def steps(self, seed):
        rest = ANALYTICS[:]
        random.Random(seed).shuffle(rest)
        return ["pipeline", "q_quality_report"] + rest


class Curation(Workload):
    def steps(self, seed):
        groups = [["q_curation"], ["qm_prebuild", "q_quality_classifier"],
                  ["basket_prebuild", "q_assoc_rules"]]
        random.Random(seed).shuffle(groups)
        return [s for g in groups for s in g]


class GateSweep(Workload):
    def steps(self, seed):
        gates = SWEEP_GATES[:]
        random.Random(seed).shuffle(gates)
        return gates


WORKLOADS = {w.name: w for w in [
    # why each workload exists is recorded in BENCHMARK.json
    Elt("elt", "sf0.01", ["fct_trips_"]),
    Curation("curation", "sf0.01",
             ["dedup_shingles_", "dedup_pairs_", "qm_pack_", "qm_weights_full_",
              "qm_weights_train", "baskets_cust_", "baskets_pairs_"]),
    GateSweep("gate_sweep", "sf0.001",
              ["graph_edges_", "media_assets_nd_", "stream_dedup_", "dir_stream_dedup_landing_"]),
]}


def outputs(step, out_dir):
    """(oracle gate, output path, compare on the oracle's columns only)
    for each output a step leaves to check."""
    if step == "pipeline":
        return [(g, f"{out_dir}/pipeline/{m}", m == "fct_trips")
                for m, g in PIPELINE_MODELS.items()]
    if step.startswith("q_"):
        return [(step, f"{out_dir}/{step}", False)]
    return []  # a stage build: its consumer gate's output is checked


def oracle_gates(workload):
    """Every gate whose oracle answer the workload's checks need."""
    return sorted({g for s in workload.steps(0) for g, _, _ in outputs(s, "")})
