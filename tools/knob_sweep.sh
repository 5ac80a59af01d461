#!/usr/bin/env bash
# All-knobs parity sweep: run the full Verify + DuckDB oracle compare with
# EVERY semantic spark.graft.* knob simultaneously at a non-default value,
# so each generated-SQL chain is exercised off its defaults (SURVEY §8).
# Usage: tools/knob_sweep.sh [sf_dir] [out_dir]
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.001}
OUT=${2:-/tmp/vout_sweep}

CONF="spark.graft.bm25.terms=vector,filter"
CONF+=";spark.graft.pack.shards=5"
CONF+=";spark.graft.pack.seqTokens=257"
CONF+=";spark.graft.pack.balanceShards=5"
CONF+=";spark.graft.kmeans.k=7"
CONF+=";spark.graft.kmeans.iters=3"
CONF+=";spark.graft.kmeans.trainSampleMod=2"
CONF+=";spark.graft.dedup.shingleWords=2"
CONF+=";spark.graft.dedup.hotShingleDf=48"
CONF+=";spark.graft.dedup.bands=3"
CONF+=";spark.graft.dedup.rowsPerBand=5"
CONF+=";spark.graft.dedup.jaccardTau=0.4"
CONF+=";spark.graft.dedup.minhashTau=0.4"
CONF+=";spark.graft.dedup.cosineTau=0.3"
CONF+=";spark.graft.dedup.semTau=0.3"
CONF+=";spark.graft.dedup.hotBandDocs=48"
CONF+=";spark.graft.dedup.ccMaxIters=16"
# plan-only: cap 1 routes every connected-components call (every group of
# every CC caller) onto the distributed loop — results must be identical
# to the default's
CONF+=";spark.graft.dedup.ccLocalMaxEdges=1"
CONF+=";spark.graft.dedup.embedNProbe=3"
CONF+=";spark.graft.dedup.srpBits=24"
CONF+=";spark.graft.dedup.srpBandBits=3"
# (srpDims is data-descriptive — it must equal the embedding table's real
# dimension, so it stays at its default here)
CONF+=";spark.graft.dedup.packedOccKey=true"
CONF+=";spark.graft.dedup.srpHotBandDocs=128"
CONF+=";spark.graft.decontam.fuzzyTau=0.4"
CONF+=";spark.graft.decontam.ngram=4"
CONF+=";spark.graft.decontam.fuzzyEvalMod=23"
CONF+=";spark.graft.decontam.semTau=0.3"
CONF+=";spark.graft.qnb.evalMod=7"
CONF+=";spark.graft.qnb.tauQint=60000"
CONF+=";spark.graft.qnb.calBucketMicro=3000"
CONF+=";spark.graft.qnb.quarantineBucket=3"
CONF+=";spark.graft.unigram.maxPiece=3"
CONF+=";spark.graft.unigram.seedK=48"
CONF+=";spark.graft.unigram.maxWordLen=10"
CONF+=";spark.graft.unigram.driftTauBp=150"
CONF+=";spark.graft.ann.queries=7"
CONF+=";spark.graft.ann.topK=4"
CONF+=";spark.graft.ann.nprobe=3"
CONF+=";spark.graft.ann.quantLevels=63"
CONF+=";spark.graft.ann.pqSubs=4"
CONF+=";spark.graft.ann.pqK=16"
CONF+=";spark.graft.ann.pqIters=3"
CONF+=";spark.graft.ann.pqRerank=32"
CONF+=";spark.graft.ann.bqRerank=48"
CONF+=";spark.graft.mmr.lambdaPct=55"
CONF+=";spark.graft.mmr.depth=8"
CONF+=";spark.graft.novelty.ngram=2"
CONF+=";spark.graft.novelty.mod=7"
CONF+=";spark.graft.text.dupWindowWords=6"
CONF+=";spark.graft.text.dupTopN=15"
CONF+=";spark.graft.ppl.sampleMod=2"
CONF+=";spark.graft.ppl.lambda=0.8"
CONF+=";spark.graft.ppl.sboTrainMod=3"
CONF+=";spark.graft.ppl.sboAlphaPct=30"
CONF+=";spark.graft.ppl.knDiscountPct=60"
CONF+=";spark.graft.tfidf.topK=2"
CONF+=";spark.graft.rrf.k=40"
CONF+=";spark.graft.rrf.depth=7"
# plan-only: forces the stored-hybrid vocab pushdown onto its broadcast
# semi-join fallback — results must be identical to the default's
CONF+=";spark.graft.rrf.vocabPushdownMax=1"
CONF+=";spark.graft.mix.tempSqrts=2"
CONF+=";spark.graft.winnow.k=3"
CONF+=";spark.graft.winnow.w=8"
CONF+=";spark.graft.winnow.fpCap=10"
CONF+=";spark.graft.winnow.tauPct=30"
CONF+=";spark.graft.gopher.minWords=15"
CONF+=";spark.graft.gopher.maxWords=900"
CONF+=";spark.graft.gopher.stops=the,a,key"
CONF+=";spark.graft.nb.evalMod=5"
CONF+=";spark.graft.dsir.buckets=2048"
CONF+=";spark.graft.dsir.budget=40"
CONF+=";spark.graft.dsir.targetLang=fr"
CONF+=";spark.graft.budget.tokens=3100"
CONF+=";spark.graft.curation.hostCap=5"
CONF+=";spark.graft.quality.minWords=15"
CONF+=";spark.graft.quality.maxWords=90"
CONF+=";spark.graft.quality.minStopPct=2"
CONF+=";spark.graft.quality.maxTopBigramPct=12"
CONF+=";spark.graft.quality.lineMinWords=4"
CONF+=";spark.graft.quality.maxBulletPct=50"
CONF+=";spark.graft.quality.maxEllipsisPct=20"
CONF+=";spark.graft.prune.dropPct=40"
CONF+=";spark.graft.linedd.chunkWords=7"
CONF+=";spark.graft.bpe.merges=11"

# every swept key must still be read somewhere: a key with no string
# literal under src/main/scala is a deleted knob, and sweeping it would be
# a silent no-op
STALE=0
IFS=';' read -ra KVS <<< "$CONF"
for kv in "${KVS[@]}"; do
  key=${kv%%=*}
  grep -rqF "\"$key\"" src/main/scala || { echo "no knob $key in src/main/scala"; STALE=1; }
done
[ "$STALE" = 0 ] || exit 1

N_KNOBS=$(echo "$CONF" | tr ';' '\n' | wc -l)
echo "sweeping $N_KNOBS knobs at non-default values over $SF"
SPARK_GRAFT_CONF="$CONF" SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} \
  sbt -batch "runMain graft.Verify $SF $OUT" >/tmp/knob_sweep_verify.log 2>&1 \
  || { echo "Verify failed — see /tmp/knob_sweep_verify.log"; exit 1; }
grep 'verify.*failed' /tmp/knob_sweep_verify.log && exit 1
python3 tools/check_oracle.py "$OUT" "$SF"
