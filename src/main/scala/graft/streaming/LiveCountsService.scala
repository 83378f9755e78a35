package graft.streaming

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.HttpShim
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.DatasetBridge

/** HTTP dashboard shim over the live-counts memory sink — the
  * reference's `GET /counts` endpoint (`app3/live_counts.py:73-95`):
  * answers `{"gender": {...}, "occupation": {...}, "age": {...}}`
  * computed from the accumulated `feedback_raw`-style table, 500 with
  * the error text on failure; `GET /` serves a self-contained HTML
  * dashboard (the functional twin of `app3/index.html`: three SVG bar
  * panels polling `/counts` every 2 s — written from scratch, no
  * reference markup), 404 elsewhere.
  *
  * Same serving pattern as [[graft.reco.RecommenderService]]:
  * [[graft.core.HttpShim]] + Spark's own Jackson, zero added
  * dependencies. The shim's handler pool lets static serving and
  * `/counts` polling proceed independently: on the single dispatcher
  * thread one slow read would freeze the page the browser polls from
  * (r11 advice).
  *
  * The counts are the reference's own computation, which pulls the
  * whole table to pandas and runs `value_counts` per dimension: here
  * [[computeCounts]] folds the rows the memory sink already holds on
  * the driver into the three tallies. A read runs no Spark job and
  * ships no rows to executors. Nothing is cached between reads, so the
  * next read after a query restart sees the new query's sink.
  */
object LiveCountsService {

  type Handle = HttpShim.Handle

  /** Dashboard dimension -> the sink column it tallies. */
  private val Dims = Seq("gender" -> "gender", "occupation" -> "occupation",
    "age" -> "age_bin")

  /** Counts for the three dashboard dimensions, folded on the driver
    * over the memory sink behind `table` (the query name of a
    * [[FeedbackPipeline.startMemoryAppend]] query): a null gender or
    * occupation (malformed JSON parses to nulls) is skipped, and
    * `age_bin` is always set (a missing age bins as "56+", as in the
    * reference). Exposed for tests and reuse by non-HTTP front ends.
    * Throws, naming `table`, if `table` is not a memory sink.
    */
  def computeCounts(spark: SparkSession, table: String)
      : Map[String, Map[String, Long]] = {
    val plan = DatasetBridge.memorySinkPlan(spark, table)
    val names = plan.output.map(_.name)
    val rows = plan.sink.allData
    Dims.map { case (dim, c) =>
      val i = names.indexOf(c)
      require(i >= 0, s"table '$table' has no column $c")
      dim -> rows.view.filterNot(_.isNullAt(i)).map(_.getString(i))
        .groupMapReduce(identity)(_ => 1L)(_ + _)
    }.toMap
  }

  def start(spark: SparkSession, table: String, port: Int = 0): Handle = {
    val mapper = new ObjectMapper()
    HttpShim.start("counts", port,
      HttpShim.Route("GET", "/counts", { ex =>
        try {
          val counts = computeCounts(spark, table)
          val out = mapper.createObjectNode()
          Dims.foreach { case (dim, _) =>
            val o = out.putObject(dim)
            counts(dim).toSeq.sortBy(_._1).foreach { case (k, v) =>
              o.put(k, v)
            }
          }
          HttpShim.respond(ex, 200, "application/json",
            mapper.writeValueAsBytes(out))
        } catch {
          case e: Exception => HttpShim.error(ex, 500, e)
        }
      }),
      HttpShim.Route("GET", "/", { ex =>
        val path = ex.getRequestURI.getPath
        if (path == "/" || path == "/index.html")
          HttpShim.respond(ex, 200, "text/html; charset=utf-8",
            DashboardHtml.getBytes(StandardCharsets.UTF_8))
        else HttpShim.notFound(ex)
      }))
  }

  /** Zero-dependency live dashboard: three bar panels fed by /counts. */
  private[streaming] val DashboardHtml: String =
    """<!DOCTYPE html>
      |<html><head><meta charset="utf-8"/>
      |<title>graft live counts</title>
      |<style>
      | body{font-family:sans-serif;margin:1rem;background:#fafafa}
      | .panel{display:inline-block;vertical-align:top;background:#fff;
      |   border:1px solid #ddd;border-radius:8px;padding:.75rem;
      |   margin:.5rem;min-width:280px}
      | .panel h3{margin:.1rem 0 .5rem}
      |</style></head><body>
      |<h2>Live feedback counts</h2>
      |<div id="state">waiting for data…</div>
      |<div class="panel"><h3>gender</h3><svg id="p_gender" width="280" height="200"></svg></div>
      |<div class="panel"><h3>age</h3><svg id="p_age" width="280" height="200"></svg></div>
      |<div class="panel"><h3>occupation</h3><svg id="p_occupation" width="280" height="280"></svg></div>
      |<script>
      |const NS='http://www.w3.org/2000/svg';
      |function bars(id,counts){
      |  const svg=document.getElementById('p_'+id);
      |  while(svg.firstChild)svg.removeChild(svg.firstChild);
      |  const es=Object.entries(counts||{}).sort((a,b)=>b[1]-a[1]);
      |  if(!es.length)return;
      |  const top=Math.max(...es.map(e=>e[1]));
      |  es.forEach(([k,v],i)=>{
      |    const r=document.createElementNS(NS,'rect');
      |    r.setAttribute('x',0);r.setAttribute('y',i*24);
      |    r.setAttribute('height',18);
      |    r.setAttribute('width',Math.max(2,220*v/top));
      |    r.setAttribute('fill','#3a7bd5');svg.appendChild(r);
      |    const t=document.createElementNS(NS,'text');
      |    t.setAttribute('x',4);t.setAttribute('y',i*24+14);
      |    t.setAttribute('fill','#fff');t.setAttribute('font-size','12');
      |    t.textContent=k+' ('+v+')';svg.appendChild(t);
      |  });
      |}
      |async function tick(){
      |  try{
      |    const r=await fetch('/counts');
      |    const c=await r.json();
      |    document.getElementById('state').textContent=
      |      'updated '+new Date().toLocaleTimeString();
      |    for(const d of ['gender','age','occupation'])bars(d,c[d]);
      |  }catch(e){
      |    document.getElementById('state').textContent='error: '+e;
      |  }
      |}
      |tick();setInterval(tick,2000);
      |</script></body></html>
      |""".stripMargin
}
