"""transcriptpipe — a PySpark-native parse → enrich → route → aggregate pipeline.

A from-scratch reimagining of the capabilities of Scribery/aushape
(reference at /root/reference, surveyed in SURVEY.md) applied to tables of
multi-turn conversation/agent transcripts:

* vectorized grok/kv field extraction + hex decoding   (parse.py,   ref lib/record.c, lib/execve_coll.c)
* broadcast-dictionary enrichment                      (enrich.py,  ref auparse interpret, lib/field.c:112-114)
* per-conversation coalescing, trimming and JSON/XML   (arrow_docs.py + fastkernel.py, or relational.py;
  rendering in one pass over the conv_id exchange       ref lib/conv_buf.c, lib/*_coll.c, lib/gbtree.c trim)
* XML escaping and fold/indent pretty-printing         (render.py,  ref lib/gbuf.c)
* router fan-out to per-doctype sinks + metrics        (route.py, pipeline.py, ref lib/output.c, lib/conv.c)
* the layer chain enrich → exchange → render → stage → sinks  (pipeline.py)
* snapshot-checkpointed, resumable writes              (sinks.py,   new design; north_rule requirement)

Everything here is built on the public PySpark DataFrame API; no code is
copied from the reference (which is C).
"""

__version__ = "0.1.0"
