// Single-node throughput of the UNMODIFIED reference (Apache-2.0,
// /root/reference/src) on this box: addRaw inserts/sec and union/sec,
// measured in the same process model the reference ships (one scalar JS
// thread). Compare with perfbench's traced core.hll.update_ns_per_hash
// (our numpy core: python3 perfbench/run.py --trace 1) and
// BENCH/BASELINE.md (the distributed engines).
//
// usage: node tools/bench_reference.js [n_inserts]
"use strict";
const fs = require("fs");
const vm = require("vm");

const REF = process.env.JS_HLL_REFERENCE || "/root/reference/src";
const ctx = vm.createContext({ console });
for (const f of ["util.js", "hll.js"]) {
  vm.runInContext(fs.readFileSync(`${REF}/${f}`, "utf8"), ctx, { filename: f });
}
const hll = ctx.hll;

const N = parseInt(process.argv[2] || "2000000", 10);
// deterministic 64-bit-ish pseudo-hashes as [lo32, hi32] pairs (the
// reference's addRaw input convention, src/hll.js:262)
const vals = new Array(N);
let s = 0x9e3779b9 >>> 0;
function xs32() {
  // xorshift32: uniform in all bit positions (an LCG's low bits cycle,
  // which would distort the register-index distribution)
  s ^= (s << 13) >>> 0; s >>>= 0;
  s ^= s >>> 17;
  s ^= (s << 5) >>> 0; s >>>= 0;
  return s >>> 0;
}
for (let i = 0; i < N; i++) vals[i] = [xs32(), xs32()];

function bench(log2m, rw) {
  const set = new hll.HLL(log2m, rw);
  const t0 = process.hrtime.bigint();
  for (let i = 0; i < N; i++) set.addRaw(vals[i]);
  const dt = Number(process.hrtime.bigint() - t0) / 1e9;
  return { log2m, rw, n: N, sec: +dt.toFixed(4),
           inserts_per_sec: Math.round(N / dt),
           cardinality: set.algorithmCardinality() };
}

// warm the JIT, then measure (median of 3)
bench(13, 5);
const runs = [bench(13, 5), bench(13, 5), bench(13, 5)];
runs.sort((a, b) => a.sec - b.sec);
const mid = runs[1];

// union throughput: merge 1000 pre-built sketches
const parts = [];
for (let p = 0; p < 1000; p++) {
  const sk = new hll.HLL(13, 5);
  for (let i = p; i < N; i += 1000) sk.addRaw(vals[i]);
  parts.push(sk);
}
const acc = new hll.HLL(13, 5);
const tu = process.hrtime.bigint();
for (const sk of parts) acc.union(sk);
const du = Number(process.hrtime.bigint() - tu) / 1e9;

// estimate throughput: repeated cardinality() on the accumulated sketch
// (the reference stress harness' third leg, test/stress-test.html:76-88)
const NE = 20000;
let sink = 0;
const te = process.hrtime.bigint();
for (let i = 0; i < NE; i++) sink += acc.algorithmCardinality();
const de = Number(process.hrtime.bigint() - te) / 1e9;

process.stdout.write(JSON.stringify({
  reference: "aggregateknowledge/js-hll @ /root/reference (unmodified, vm)",
  node: process.version,
  insert: mid,
  union: { n_sketches: 1000, sec: +du.toFixed(4),
           unions_per_sec: Math.round(1000 / du) },
  estimate: { n: NE, sec: +de.toFixed(4),
              estimates_per_sec: Math.round(NE / de),
              sample: sink / NE },
}) + "\n");
