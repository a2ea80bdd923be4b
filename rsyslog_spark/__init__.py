"""rsyslog_spark — a from-scratch PySpark-native log/telemetry pipeline.

Re-expresses the *capabilities* of rsyslog (reference: /root/reference,
jjourdin/rsyslog, C) as an idiomatic Spark engine:

- parse:    RFC3164/RFC5424 syslog parsing as vectorized pandas/Arrow UDFs
            over a transcript `text` column (reference: tools/pmrfc3164.c,
            tools/pmrfc5424.c, runtime/parser.c)
- enrich:   lookup tables as literal-map probes / as-of CASE chains
            (reference: runtime/lookup.c)
- route:    rulesets (filters + stop + set/unset + actions) compiled to
            per-sink Spark SQL predicates — multicast-with-stop algebra
            (reference: runtime/ruleset.c scriptExec)
- format:   templates compiled to a single Column expression
            (reference: template.c, runtime/msg.c MsgGetProp option pipeline)
- aggregate: dynstats / impstats analogs as groupBy + observe() metrics
            (reference: runtime/dynstats.c, runtime/statsobj.c)
- deliver:  fan-out writers to partitioned tables (dynafile ≡ partitionBy,
            reference: tools/omfile.c prepareDynFile)
- resume:   per-partition lineage/checkpoint table ≈ disk-queue .qi files
            (reference: runtime/queue.c qqueuePersist)

This is NOT a port: execution is Spark DataFrame/Catalyst end to end; the
only Python-side compute is two Arrow-batched vectorized parsers.
"""

__version__ = "0.1.0"
