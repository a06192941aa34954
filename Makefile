# Convenience targets. The one that exists for a reason: `make snapshot`
# (VERDICT r10 item 1) — the driver writes BENCH_r{N}.json /
# CORRECTNESS_r{N}.json AFTER the round's final commit, so every round
# r7-r10 started with untracked artifacts. Run `make snapshot` as the
# FIRST action of a round to commit whatever the driver left behind.

.PHONY: snapshot test bench audit

# one git-add per pattern: git add is atomic across pathspecs, so a
# single no-match pattern would otherwise stage NOTHING and the || true
# would hide it — the exact untracked-artifact failure this target exists
# to prevent
snapshot:
	git add -f BENCH_r*.json 2>/dev/null || true
	git add -f CORRECTNESS_r*.json 2>/dev/null || true
	git add -f BENCH_DETAIL.json 2>/dev/null || true
	git add -f PLAN_AUDIT.json 2>/dev/null || true
	git diff --cached --quiet || git commit -m "snapshot: driver bench/correctness artifacts"

# The Tier-1 suite exactly as ROADMAP.md states it: same env, timeout
# and flags, so `make test` passes or fails as the gate does.
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

audit:
	python tools_plan_audit.py
