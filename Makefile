# Round-gate targets (VERDICT r12 #3: the adversarial sweeps are part
# of the end-of-round gate, not ad-hoc tools).  Spark gates are
# serialized — each target runs its own local[N] session; never run
# two in parallel on this machine.

.PHONY: smoke suite selfcheck adversarial gate bench perfbench

# ~4 min: contract + functions + engine units + domain model
smoke:
	python -m pytest tests/ -m smoke -q

# ~30 min: the full pytest suite — the ROADMAP Tier-1 command verbatim
# (all CPUs, local dirs under /tmp, 2670 s budget, no -x)
suite:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# full-registry oracle snapshot at sf0.01 (SELFCHECK_r{N}.json);
# pass R=13 etc. as `make selfcheck R=13`; exits non-zero on any FAIL
R ?= dev
selfcheck:
	python selfcheck.py --tag $(R)

# the four degenerate-corpus sweeps in one Spark session — every
# registry query through BOTH engines on hostile injected parquet;
# exits non-zero on any divergence
adversarial:
	python adversarial_check.py

# idle-guarded bench (writes the headline JSON line)
bench:
	python bench.py

# unit tests of the E1/neardup benchmark harness (perfbench/)
perfbench:
	python -m pytest perfbench -q

# the full end-of-round gate, in dependency-light order: cheap suite
# signal first, then the oracle snapshot, then the adversarial sweeps
gate: suite selfcheck adversarial
	@echo "ALL ROUND GATES GREEN"
