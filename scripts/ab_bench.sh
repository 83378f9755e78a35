#!/usr/bin/env bash
# Same-host A/B control (r15 verdict #1): re-time the PRIOR round's
# build on a pinned panel right next to the current build, same host,
# same hour, min-of-3 per query per side — so a cross-round per-query
# delta is attributable to code, not to the ~2x session-to-session
# drift this host has shown (the r15 postmortem: the r14 build re-timed
# at ~2x its own committed artifact).
#
# Usage: scripts/ab_bench.sh [OLD_REF] [OUT_JSON] [PANEL]
#   OLD_REF  defaults to the last driver round-close commit
#            (message "round N: verdict/advice/correctness/bench")
#   OUT_JSON defaults to AB_r19.json
#   PANEL    defaults to the pinned 15-query panel below
# Env knobs:
#   GRAFT_AB_PASSES        timed passes per query per side (default 3)
#   GRAFT_AB_ATTEMPTS      max control attempts on drift (default 2)
#   GRAFT_AB_DRIFT_BAR_PCT panel-drift divert bar (default 10)
#   GRAFT_AB_CHANGED       comma-separated queries the round
#                          INTENTIONALLY touched — excluded from the
#                          drift statistic so real signal is not
#                          counted as host noise
set -euo pipefail
cd "$(dirname "$0")/.."
REPO="$PWD"

# one A/B at a time: the worktree and /tmp/ab_{old,new}.json are shared
# paths — a concurrent run would merge pass times from two different
# builds into one artifact (review finding, r16)
exec 9>/tmp/graft_ab.lock
flock -n 9 || { echo "[ab] another ab_bench.sh is running; aborting" >&2; exit 1; }

OLD_REF="${1:-$(git log --grep='^round .*: verdict' -1 --format=%H)}"
OUT="${2:-AB_r19.json}"
# Pinned panel: one representative per family plus every query a recent
# round moved or watched — emb_label_centroid (the r15 2x-bar
# crosser), ann_ivf_topk / ann_nprobe_curve (the r16 native
# nearest_cell change), text_bigram_lm (the cleared r14 weak mark),
# mm_audio_fingerprint (the r15 SPI codec pin), graph_degree_hist /
# graph_item_cooccur (r16 verdict #1: the cappedInteractions int-range
# filter — these two seats let the same-host control adjudicate drift
# vs real cost there). r19 seat refresh (r18 directive #6): the
# adjudicated-stale emb_lda_axis and text_dsir_weight seats retire in
# favor of the two newest operators with moving parts — stat_sprt
# (the stats suite's first panel seat; its constants now feed three
# engines) and emb_semdedup_incr (the incremental-dedup batch side the
# streaming twin shares projections with) — so the control watches
# where change actually happens.
PANEL="${3:-q05_top_order_per_customer,q12_daily_events,emb_label_centroid,stat_sprt,ann_ivf_topk,ann_nprobe_curve,text_bigram_lm,emb_semdedup_incr,graph_event_pagerank,graph_degree_hist,graph_item_cooccur,dedup_minhash_lsh,mm_audio_fingerprint,ev_holt_winters,pipe_mix_optimizer}"
SF="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"

WT=/tmp/graft_ab_old
OLD_HASH="$(git rev-parse "$OLD_REF")"
if [ ! -f "$WT/.ab_ref" ] || [ "$(cat "$WT/.ab_ref")" != "$OLD_HASH" ]; then
  git worktree remove --force "$WT" 2>/dev/null || true
  git worktree add --force "$WT" "$OLD_HASH"
  echo "$OLD_HASH" > "$WT/.ab_ref"
fi
# the panel timer and its harness (this round's tools) ride along into
# the old build — they only touch GraftSession.builder and
# SparkEntry.queries, present in both builds
mkdir -p "$WT/src/main/scala/graft/tools"
for f in ABPanel CatalogHarness; do
  cp "$REPO/src/main/scala/graft/tools/$f.scala" \
     "$WT/src/main/scala/graft/tools/$f.scala"
done

# Degraded-divert + retry (r17 directive #4): the r17 panel's per-query
# noise floor hit ±40% on KNOWN-unchanged queries — fine for
# adjudicating catastrophes, useless for a real 5-15% regression. The
# bench_full.json pattern, applied here: compute a panel-drift
# statistic (median |delta_pct| over the drift set — common queries
# minus any the round INTENTIONALLY touched, named in
# GRAFT_AB_CHANGED=q1,q2 so real signal is not counted as drift),
# divert the artifact to $OUT.degraded when it exceeds the ~10% bar,
# and retry the WHOLE control (both sides — drift means the window was
# loaded, so neither side's numbers stand) after waiting for the host
# to quiet down. A degraded attempt never overwrites a clean prior
# $OUT (the Bench.artifactTarget rule).
ATTEMPTS="${GRAFT_AB_ATTEMPTS:-2}"
DRIFT_BAR="${GRAFT_AB_DRIFT_BAR_PCT:-10}"
CHANGED="${GRAFT_AB_CHANGED:-}"
# GRAFT_AB_CHANGED entries must name panel queries (r18 advice #2): a
# typo would silently leave the intentionally-changed query IN the
# drift set — re-creating the exact false-degraded divert the knob was
# built to prevent. Fail fast, before an hour of timing.
if [ -n "$CHANGED" ]; then
  IFS=',' read -ra _CH <<< "$CHANGED"
  for q in "${_CH[@]}"; do
    case ",$PANEL," in
      *",$q,"*) ;;
      *) echo "[ab] ERROR: GRAFT_AB_CHANGED entry '$q' is not in the panel ($PANEL)" >&2
         exit 2 ;;
    esac
  done
fi
for attempt in $(seq 1 "$ATTEMPTS"); do
  if [ "$attempt" -gt 1 ]; then
    # wait for a quiet window (1-min load < 2, the documented bar this
    # host's spikes settle under), capped at 15 min so the control
    # always completes
    echo "[ab] attempt $attempt: waiting for 1-min load < 2"
    for _ in $(seq 1 90); do
      LOAD="$(cut -d' ' -f1 /proc/loadavg)"
      awk -v l="$LOAD" 'BEGIN{exit !(l < 2.0)}' && break
      sleep 10
    done
  fi
  echo "[ab] timing OLD build $OLD_HASH (attempt $attempt)"
  (cd "$WT" && sbt -batch "runMain graft.tools.ABPanel $SF /tmp/ab_old.json old_$OLD_HASH $PANEL")
  echo "[ab] timing NEW build $(git rev-parse HEAD) (attempt $attempt)"
  sbt -batch "runMain graft.tools.ABPanel $SF /tmp/ab_new.json new_$(git rev-parse HEAD) $PANEL"

  TARGET="$(python3 - "$OLD_HASH" "$(git rev-parse HEAD)" "$OUT" "$DRIFT_BAR" "$attempt" "$CHANGED" <<'EOF'
import json, sys, datetime, os, statistics
old_hash, new_hash, out, bar, attempt, changed = sys.argv[1:7]
bar = float(bar)
changed = set(q for q in changed.split(',') if q)
old = json.load(open('/tmp/ab_old.json'))
new = json.load(open('/tmp/ab_new.json'))
qs = sorted(old['queries_min'])
per = {}
for q in qs:
    o, n = old['queries_min'][q], new['queries_min'].get(q, -1.0)
    d = round((n - o) / o * 100, 1) if o > 0 and n >= 0 else None
    per[q] = {'old_sec': o, 'new_sec': n, 'delta_pct': d,
              'old_passes': old['passes'][q], 'new_passes': new['passes'][q]}
# r16 advice: totals over the INTERSECTION of succeeded queries — a
# query failing on one side only must not skew the headline delta by
# comparing totals over different query subsets. The per-side raw
# totals stay published; the delta is computed from the common set,
# and nulled when that set is empty.
common = [q for q in qs if per[q]['old_sec'] >= 0 and per[q]['new_sec'] >= 0]
ot = round(sum(per[q]['old_sec'] for q in common), 3)
nt = round(sum(per[q]['new_sec'] for q in common), 3)
# r17 advice #3: derive old-side failures from old_sec < 0 symmetrically
# with the new side — an old artifact lacking 'failed' (older ABPanel)
# must not under-report; union with the published set when present
failed = sorted(set(old.get('failed', [])) |
                {q for q in qs if per[q]['old_sec'] < 0} |
                {q for q in qs if per[q]['new_sec'] < 0})
# drift statistic: median |delta| over common queries NOT intentionally
# changed this round — on an unchanged panel this IS the ambient-drift
# measurement; a robust median keeps one genuinely-moved query from
# masquerading as host noise (and vice versa)
drift_qs = [q for q in common if q not in changed]
drift = (round(statistics.median(abs(per[q]['delta_pct']) for q in drift_qs), 1)
         if drift_qs else None)
degraded = drift is None or drift > bar
# r18 advice #2, refined by the r19 self-review: an empty drift set
# has TWO causes with opposite remedies. Every common query marked
# changed is STRUCTURAL (no retry can conjure an unchanged query —
# only shrinking GRAFT_AB_CHANGED can), but an empty COMMON set —
# nothing succeeded on both sides — is frequently a transient spike
# or OOM killing one side's queries, i.e. exactly what the retry
# (which waits for the host to quiet) exists for. Only the first
# cause forfeits the remaining attempts.
empty_drift = not drift_qs
structural_empty = empty_drift and bool(common)
doc = {
  'metric': 'ab_panel_control',
  'old_ref': old_hash, 'new_ref': new_hash,
  'sf': old['sf'],
  'protocol': 'same host, same hour, per side: 1 warm + min of %d timed passes per query (GRAFT_AB_PASSES); old build checked out via git worktree with this round\'s ABPanel timer dropped in; totals over the intersection of queries that succeeded on BOTH sides; panel_drift_pct = median |delta| over common-minus-GRAFT_AB_CHANGED queries, > %s%% diverts to .degraded and retries'
              % (max(len(v['old_passes']) for v in per.values()), bar),
  'run_utc': datetime.datetime.now(datetime.timezone.utc).isoformat(timespec='seconds'),
  'attempt': int(attempt),
  'panel_total_old_sec': ot, 'panel_total_new_sec': nt,
  'panel_total_old_raw_sec': old['panel_total_min_sec'],
  'panel_total_new_raw_sec': new['panel_total_min_sec'],
  'panel_common_queries': len(common),
  'panel_failed_either_side': failed,
  'panel_delta_pct': round((nt - ot) / ot * 100, 1) if common and ot > 0 else None,
  'panel_drift_pct': drift,
  'panel_drift_bar_pct': bar,
  'panel_drift_excluded_changed': sorted(changed),
  'panel_drift_degraded': degraded,
  'queries': per,
}
target = out
if degraded and os.path.exists(out):
    # a degraded attempt never clobbers a clean prior artifact; an
    # unreadable prior counts as clean (fail closed, the
    # Bench.artifactTarget rule)
    try:
        prior_degraded = json.load(open(out)).get('panel_drift_degraded') is True
    except Exception:
        prior_degraded = False
    if not prior_degraded:
        target = out + '.degraded'
json.dump(doc, open(target, 'w'), indent=1)
print('[ab] wrote %s panel %s -> %s drift %s%% (bar %s)'
      % (target, ot, nt, drift, bar), file=sys.stderr)
if structural_empty:
    print('[ab] drift set is EMPTY (common=%d, changed covers %d): every '
          'common query is marked changed, so the drift statistic '
          'cannot be computed and a retry cannot fix it — shrink '
          'GRAFT_AB_CHANGED'
          % (len(common), len(changed & set(common))), file=sys.stderr)
elif empty_drift:
    print('[ab] no query succeeded on BOTH sides (common=0) — treating '
          'as host-degraded and leaving the retry to adjudicate',
          file=sys.stderr)
# line 1: where the artifact landed; line 2: the VERDICT. The shell
# must branch on the verdict, not on the path — a degraded attempt
# with no prior clean artifact (the normal fresh-round case) writes
# to OUT itself (self-describing, the artifactTarget rule), so
# target==OUT does NOT mean clean. 'empty_drift' is degraded AND
# structurally unretryable (changed covers the panel); an empty
# COMMON set stays plain 'degraded' so the retry arm gets its shot.
print(target)
print('empty_drift' if structural_empty else
      ('degraded' if degraded else 'clean'))
EOF
)"
  VERDICT="$(printf '%s\n' "$TARGET" | sed -n 2p)"
  TARGET="$(printf '%s\n' "$TARGET" | sed -n 1p)"
  if [ "$VERDICT" = "clean" ]; then
    echo "[ab] clean control at attempt $attempt: $TARGET"
    break
  fi
  if [ "$VERDICT" = "empty_drift" ]; then
    echo "[ab] attempt $attempt has an EMPTY drift set — structural, not host noise; not retrying. Artifact at $TARGET"
    break
  fi
  echo "[ab] attempt $attempt drifted; artifact at $TARGET"
done
