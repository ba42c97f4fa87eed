# Dev workflow, mirroring the reference's Makefile targets
# (/root/reference/Makefile: test / bench / memory profiling).

.PHONY: test test-fast test-wire perf perf-pairs bench bench-small smoke gate gate10x probe staleness

test:            ## full suite (oracle parity + API + plans + streaming)
	python -m pytest tests/ -q

test-fast:       ## everything except the slow differential suites
	python -m pytest tests/ -q --ignore=tests/test_oracle_parity.py \
	    --ignore=tests/test_property_differential.py

test-wire:       ## the wire client: page decode vs its oracle, framing vs a fake backend, live PostgreSQL (~1.5 min)
	python -m pytest tests/test_pgwire_decode.py tests/test_pgwire_framing.py \
	    tests/test_live_pg.py -q

perf:            ## the repo benchmark (BENCHMARK.json): both listed workloads once, seed 1, 30 s
	python3 perfbench/run.py --workload wide_extract --seed 1 --seconds 30 --trace 0
	python3 perfbench/run.py --workload point_queries --seed 1 --seconds 30 --trace 0

# PARENT is a checkout of the parent commit, e.g.
#   git archive HEAD~1 | (mkdir -p ../parent && tar -x -C ../parent)
PAIRS ?= 10
WORKLOAD ?= wide_extract
perf-pairs:      ## interleaved parent/change perfbench pairs: make perf-pairs PARENT=dir [WORKLOAD=w PAIRS=n]
	python3 scripts/perf_pairs.py $(PARENT) --workload $(WORKLOAD) --pairs $(PAIRS)

bench:           ## headline queries + extraction legs at sf0.1 (one JSON line)
	python bench.py

bench-small:     ## same at sf0.01 for quick iteration
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py

smoke:           ## driver-contract smoke: entry() on sf0.001
	python -c "import __spark_entry__ as m; \
	from flaco_spark.session import get_session; \
	print(m.entry(get_session()).count(), 'rows')"

gate:            ## full driver-gate mirror: every query vs its DuckDB oracle at sf0.01
	python scripts/driver_sim.py

# gate10x is the STANDING pre-snapshot gate (VERDICT r5 task 5): sf0.01
# structurally cannot see estimator densification, sigma-level bounds,
# or oracle CTE blowup - the r5 run at sf0.1 caught three such defects.
# Run it before every end-of-round snapshot; record the 0-fail result.
gate10x:         ## full gate at 10x the driver's scale (sf0.1)
	python scripts/driver_sim.py /root/testdata/sf0.1

staleness:       ## per-query report: green rows older than the last code change
	python scripts/staleness_report.py

probe:           ## 10x scale probe (key-shifted sf0.1 union), writes SCALE_PROBE JSON
	python scripts/scale_probe.py /root/testdata/sf0.1 SCALE_PROBE_r04.json
